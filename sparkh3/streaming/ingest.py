"""Streaming tile ingestion: readStream over a point-event source ->
geo_to_h3 -> watermarked windowed counts -> foreachBatch upsert into the
manifest table layer.

The reference has no streaming surface; this extends the same operators
to continuous ingestion. Late data is bounded by the watermark; each
micro-batch commits a new table snapshot (append), so downstream readers
get snapshot-isolated increments — the same pattern as an Iceberg
streaming sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import functions as H3F


def streaming_tile_counts(
    stream: DataFrame,
    resolution: int,
    ts_col: str = "ts",
    lat_col: str = "lat",
    lng_col: str = "lng",
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked per-window, per-cell counts over a point stream."""
    cells = stream.withColumn(
        f"h3_{resolution:02d}",
        H3F.latlng_to_cell_udf(resolution)(F.col(lat_col), F.col(lng_col)),
    )
    return (
        cells.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window_duration).alias("win"),
            F.col(f"h3_{resolution:02d}"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            f"h3_{resolution:02d}",
            "n",
        )
    )


def streaming_cell_sessions(
    stream: DataFrame,
    resolution: int,
    gap: str = "1 minute",
    ts_col: str = "ts",
    lat_col: str = "lat",
    lng_col: str = "lng",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per-cell session windows: events in the same cell closer than
    `gap` merge into one session (dynamic-length windows — the shape
    fixed tumbling windows can't express). Watermark bounds how late an
    event may extend a session; a session emits (append mode) once the
    watermark passes its end + gap. State shards by the cell key, same
    as the tumbling-window rollup."""
    h3_col = f"h3_{resolution:02d}"
    cells = stream.withColumn(
        h3_col,
        H3F.latlng_to_cell_udf(resolution)(F.col(lat_col), F.col(lng_col)),
    )
    return (
        cells.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("session"),
            F.col(h3_col),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            h3_col,
            "n_events",
        )
    )


def idempotent_append(
    batch_df: DataFrame,
    batch_id: int,
    stream_id: str,
    table_root: str,
    h3_col: str,
    **write_kwargs,
) -> dict | None:
    """Exactly-once micro-batch commit: the (stream_id, batch_id) pair
    is recorded in the snapshot it commits, and a replayed batch —
    foreachBatch re-delivers the LAST batch when the sink succeeded but
    the checkpoint offset commit did not — is recognized and skipped.
    Returns the committed snapshot, or None for a recognized replay.

    Only the latest snapshot is consulted (replay is always the most
    recent batch, and batches of one query are delivered in order), so
    the check is O(1) however long the table history. Caveat: run
    table maintenance (compaction/expiry) only while the stream is
    stopped, since maintenance commits its own snapshot on top of the
    batch marker."""
    from ..sources import manifest

    version = manifest.current_version(table_root)
    if version is not None:
        props = (
            manifest.load_snapshot(table_root, version).get("properties")
            or {}
        )
        if (
            props.get("stream_id") == stream_id
            and props.get("batch_id") == batch_id
        ):
            return None
    return manifest.write_table(
        batch_df,
        table_root,
        h3_col,
        mode="append",
        properties={"stream_id": stream_id, "batch_id": batch_id},
        **write_kwargs,
    )


def start_tile_ingest(
    stream: DataFrame,
    resolution: int,
    table_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
    **kwargs,
) -> StreamingQuery:
    """Run the streaming rollup, committing each micro-batch as a table
    snapshot (append, exactly-once via the batch marker) through the
    manifest layer."""
    agg = streaming_tile_counts(stream, resolution, **kwargs)
    h3_col = f"h3_{resolution:02d}"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        idempotent_append(
            batch_df, batch_id, checkpoint_dir, table_root, h3_col
        )

    writer = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
