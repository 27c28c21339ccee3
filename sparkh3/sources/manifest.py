"""Iceberg-style table layer: snapshot manifests over H3-clustered Parquet.

No Iceberg jar ships in this runtime, so we emulate the pieces the
engine needs — atomic snapshot commits, per-file statistics, and
planning-time file pruning — with a JSON metadata layer:

    <root>/metadata/v<N>.json       snapshot N: files + per-file h3
                                    min/max; the live one is the highest N
    <root>/metadata/files-<gen>/    snapshot N's file list as one flat
                                    directory: entry i is a relative
                                    symlink named 000000.. to files[i]
    <root>/gen-<id>/_h3_bucket=<b>/ one generation per commit: Parquet,
                                    rows sorted by h3 int64

Layout decisions that carry to 100 TB:
* H3 stored as int64; files CLUSTERED by (bucket, h3) so int64 prefix
  order = spatial locality -> parquet min/max chunks are tight ranges.
* ``h3_bucket`` (leading bits of base-cell+digits) is the partition
  column: coarse enough to bound file counts, fine enough to prune.
* ``read_table(cells=...)`` prunes files whose [h3_min, h3_max] range
  misses every queried cell's descendant range — the scan list shrinks
  before Spark ever plans, exactly like Iceberg manifest pruning.
* A whole-snapshot read hands Spark the snapshot's listing directory,
  one path however many files it names: Spark lists it with one
  in-process call, where a list of more than
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) file
  paths costs a distributed listing job with a task per file.

Commits: every write, merge, delete and compaction writes its rows into
a new top-level generation directory named uniquely for that writer,
fsyncs it, writes the snapshot's listing directory, and claims
``v<parent+1>.json`` by hard-linking a fully written, fsynced temp file
to that name. The link is an exclusive create, so of two writers
planned against the same parent exactly one wins; the other raises
``RuntimeError`` and removes its generation and listing. A crash
leaves either no new version or a complete one, plus at most an
unreferenced generation, listing and temp file. Files a snapshot no
longer names — including every generation an overwrite replaced —
stay on disk, so older versions remain readable, until
``expire_snapshots`` reclaims them. Running maintenance (compaction,
expiry) while a writer is active is unsupported: expiry removes any
generation, listing or temp file no kept snapshot names, including
those of a writer that has not committed yet. The claim and the
listing both assume a local POSIX filesystem (atomic ``link``,
symlinks).

A real Iceberg catalog can replace this by mapping write_table ->
append/commit and read_table -> table scan with a cell-range predicate.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from pathlib import Path
from urllib.parse import unquote, urlparse

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import functions as H3F
from ..kernel import index as ix

BUCKET_BITS = 10


def _signed_ranges(ranges) -> list[tuple[int, int]]:
    """Normalize [lo, hi] uint64 key ranges (e.g. S2 merge_ranges
    output) to signed-int64 ranges safe for parquet-stat pruning and
    native long comparison: a range straddling the 2^63 sign boundary
    splits in two, so every emitted range is sign-homogeneous and the
    (monotone within each half) uint64->int64 reinterpretation keeps
    BETWEEN semantics exact."""
    two63, two64 = 1 << 63, 1 << 64
    out: list[tuple[int, int]] = []
    for lo, hi in ranges:
        lo, hi = int(lo) % two64, int(hi) % two64
        if lo > hi:
            raise ValueError(f"range lo {lo} > hi {hi}")
        parts = []
        if lo < two63:
            parts.append((lo, min(hi, two63 - 1)))
        if hi >= two63:
            parts.append((max(lo, two63), hi))
        out.extend(
            (a - two64 if a >= two63 else a, b - two64 if b >= two63 else b)
            for a, b in parts
        )
    return out


def cell_descendant_range(cell: int, storage_res: int) -> tuple[int, int]:
    """[lo, hi] int64 range covering every descendant of `cell` at
    storage_res (inclusive), in index space."""
    c = np.uint64(cell)
    res = int(ix.get_resolution(np.array([c]))[0])
    if res > storage_res:
        raise ValueError("query cell finer than storage resolution")
    lo = ix.cell_to_center_child(np.array([c]), storage_res)[0]
    hi = np.array([c])
    v = ix.set_resolution(hi, storage_res)
    # set digits res+1..storage_res to 6 (max valid digit)
    for r in range(res + 1, storage_res + 1):
        v = ix.set_digit(v, r, 6)
    return int(lo), int(v[0])


def _with_key_cols(
    df: DataFrame, h3_col: str, key_is_int: bool, bucket_bits: int
) -> DataFrame:
    """Attach the layout columns (_h3_int, _h3_bucket) exactly as the
    table stores them — shared by write_table and merge_table so an
    upsert buckets identically to the original write."""
    if key_is_int:
        out = df.withColumn("_h3_int", F.col(h3_col).cast("long"))
        if bucket_bits == 0:
            # shift-by-64 is a no-op under Java shift semantics (masked
            # mod 64) — it would bucket on the FULL key, one file per
            # distinct cell
            bucket = F.lit(0)
        else:
            bucket = F.shiftrightunsigned(F.col("_h3_int"), 64 - bucket_bits)
        return out.withColumn("_h3_bucket", bucket)
    out = df.withColumn("_h3_int", H3F.h3_str_to_int(h3_col))
    return out.withColumn(
        "_h3_bucket", H3F.h3_prefix_bucket(F.col("_h3_int"), bucket_bits)
    )


def _scan_file_stats(root_p: Path, data_dir: Path) -> list[dict]:
    """Per-file manifest entries (path, rows, key min/max) from parquet
    footers under `data_dir` — no data read, footers only."""
    import pyarrow.parquet as pq

    files = []
    for p in sorted(data_dir.rglob("*.parquet")):
        md = pq.ParquetFile(p).metadata
        h3_idx = None
        for i in range(md.num_columns):
            if md.schema.column(i).name == "_h3_int":
                h3_idx = i
                break
        mn, mx, rows = None, None, md.num_rows
        if h3_idx is not None:
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(h3_idx).statistics
                if st is not None and st.has_min_max:
                    mn = st.min if mn is None else min(mn, st.min)
                    mx = st.max if mx is None else max(mx, st.max)
        files.append(
            {
                "path": str(p.relative_to(root_p)),
                "rows": rows,
                "h3_min": mn,
                "h3_max": mx,
            }
        )
    return files


def _evolve_schema(prev_snap: dict | None, new_schema) -> dict:
    """Union-by-name schema evolution (Iceberg add-column semantics):
    the committed snapshot records the union of the parent's schema and
    the incoming batch's, so readers see every column ever written —
    files that predate a column null-fill it at read time. A TYPE
    change for an existing column is rejected (that needs a rewrite,
    not an append)."""
    from pyspark.sql.types import StructType

    new_fields = {f.name: f for f in new_schema.fields}
    if not prev_snap or "schema" not in prev_snap:
        return new_schema.jsonValue()
    prev = StructType.fromJson(prev_snap["schema"])
    merged = list(prev.fields)
    seen = {f.name: f for f in prev.fields}
    for name, f in new_fields.items():
        if name in seen:
            if seen[name].dataType != f.dataType:
                raise ValueError(
                    f"schema evolution: column '{name}' changes type "
                    f"{seen[name].dataType.simpleString()} -> "
                    f"{f.dataType.simpleString()}; appends may only ADD "
                    "columns"
                )
        else:
            merged.append(f)
    return StructType(merged).jsonValue()


def write_table(
    df: DataFrame,
    root: str,
    h3_col: str,
    mode: str = "overwrite",
    key_is_int: bool = False,
    bucket_bits: int = BUCKET_BITS,
    properties: dict | None = None,
) -> dict:
    """Write a cell-keyed table with snapshot manifest. `h3_col` is a
    15-hex-char H3 string column by default; ``key_is_int=True`` takes
    an int64 key column as-is (e.g. an S2 cell id) and buckets on its
    top bits (the spatial prefix in both the S2 and any
    Hilbert/Z-ordered layout). Rows are clustered by key either way.
    ``bucket_bits`` sets the partition-column width (file count scales
    with 2^bits — compaction rewrites with fewer bits).

    Every call lands in its own generation directory and commits a new
    snapshot. An append carries the live snapshot's files by reference
    and adopts exactly the files it wrote, so a replayed batch after a
    crash can never pick up an earlier attempt's orphans (exactly-once
    for foreachBatch sinks). An overwrite names only the new files; the
    old generations stay readable by version until
    ``expire_snapshots``."""
    root_p = Path(root)
    (root_p / "metadata").mkdir(parents=True, exist_ok=True)
    parent = current_version(root)
    prev_snap = (
        load_snapshot(root, parent)
        if mode != "overwrite" and parent is not None
        else None
    )
    out = _with_key_cols(df, h3_col, key_is_int, bucket_bits)
    schema_json = _evolve_schema(prev_snap, out.schema)
    gen, files = _write_generation(root_p, out)
    return _commit(
        root_p,
        parent,
        gen,
        {
            "h3_col": h3_col,
            "key_kind": "int" if key_is_int else "h3_str",
            "bucket_bits": bucket_bits,
            "files": (prev_snap["files"] if prev_snap else []) + files,
            "properties": properties or {},
            "schema": schema_json,
        },
    )


def _write_generation(
    root_p: Path, keyed: DataFrame
) -> tuple[Path, list[dict]]:
    """Write rows that carry the layout columns (``_with_key_cols``),
    clustered by (bucket, key), into a new top-level generation
    directory whose name is unique to this writer; return the directory
    and its file entries. No snapshot names the directory until
    ``_commit`` succeeds, so concurrent writers never touch each
    other's files, and a crashed writer leaves only an orphan that
    ``expire_snapshots`` reclaims whole."""
    gen = root_p / f"gen-{uuid.uuid4().hex}"
    keyed.repartition("_h3_bucket").sortWithinPartitions(
        "_h3_int"
    ).write.partitionBy("_h3_bucket").parquet(str(gen))
    return gen, _scan_file_stats(root_p, gen)


def _fsync(paths) -> None:
    for p in paths:
        fd = os.open(p, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)


def _write_listing(listing: Path, files: list[dict]) -> None:
    """Create `listing` as a flat directory holding, for each manifest
    entry ``files[i]``, a relative symlink named ``i`` (six digits, no
    ``.parquet`` suffix, so no orphan sweep ever matches it) to the
    entry's data file; fsync it and ``metadata/``."""
    listing.mkdir()
    for i, f in enumerate(files):
        # `listing` is <root>/metadata/files-<gen>: two levels down
        os.symlink(Path("..", "..", f["path"]), listing / f"{i:06d}")
    _fsync([listing, listing.parent])


def _commit(
    root_p: Path, parent: int | None, gen: Path, snapshot: dict
) -> dict:
    """Commit `snapshot` — whose new files all live in generation `gen`
    — as version ``parent + 1``, the only place a ``v<N>.json`` is
    written. The generation and the root that names it are fsynced
    first; then the snapshot's file list is written as the listing
    directory ``metadata/files-<gen>/`` (recorded as ``"listing"``,
    read by whole-snapshot reads); then the snapshot is written and
    fsynced under a temp name and hard-linked to ``v<parent+1>.json``.
    The link is an exclusive create: when another writer already
    committed that version this one loses, removes its generation and
    listing and raises, so the live snapshot only ever names files its
    own writer wrote or carried. Like the link, the listing's symlinks
    assume a local POSIX filesystem."""
    version = (parent or 0) + 1
    meta = root_p / "metadata"
    listing = meta / f"files-{gen.name}"
    snapshot = {
        "version": version,
        "parent": parent,
        "ts": time.time(),
        **snapshot,
        "total_rows": sum(f["rows"] for f in snapshot["files"]),
        "listing": str(listing.relative_to(root_p)),
    }
    _fsync([*gen.rglob("*"), gen, root_p])
    _write_listing(listing, snapshot["files"])
    tmp = meta / f".v{version}.{gen.name}.tmp"
    tmp.write_text(json.dumps(snapshot))
    _fsync([tmp])
    try:
        os.link(tmp, meta / f"v{version}.json")
    except FileExistsError:
        shutil.rmtree(gen)
        shutil.rmtree(listing)
        raise RuntimeError(
            f"concurrent commit detected: another writer committed "
            f"version {version} first — retry against the new snapshot"
        ) from None
    finally:
        tmp.unlink()
    _fsync([meta])
    return snapshot


_SNAPSHOT_NAME = re.compile(r"v(\d+)\.json")


def _versions(root_p: Path) -> list[int]:
    """Committed snapshot versions, ascending: exactly the
    ``metadata/v<digits>.json`` names (not codebooks, not temp files)."""
    names = (
        _SNAPSHOT_NAME.fullmatch(p.name)
        for p in (root_p / "metadata").glob("v*.json")
    )
    return sorted(int(m.group(1)) for m in names if m)


def current_version(root: str) -> int | None:
    """The live snapshot's version — the highest committed one — or
    None when `root` holds no table."""
    versions = _versions(Path(root))
    return versions[-1] if versions else None


def load_snapshot(root: str, version: int | None = None) -> dict:
    if version is None:
        version = current_version(root)
        if version is None:
            raise FileNotFoundError(f"no snapshots under {root}/metadata")
    return json.loads(
        (Path(root) / "metadata" / f"v{version}.json").read_text()
    )


def _cells_to_ranges(snap: dict, cells: list[str]) -> list[tuple[int, int]]:
    if snap.get("key_kind", "h3_str") != "h3_str":
        raise ValueError(
            "cells= pruning requires an H3-string-keyed table; this table "
            f"is key_kind={snap.get('key_kind')!r} — pass ranges= "
            "(e.g. from kernel.s2.merge_ranges) instead"
        )
    cell_ints = [int(c, 16) for c in cells]
    # storage res from any file's min
    any_min = next(f["h3_min"] for f in snap["files"] if f["h3_min"] is not None)
    storage_res = int(ix.get_resolution(np.array([any_min], dtype=np.uint64))[0])
    return [cell_descendant_range(c, storage_res) for c in cell_ints]


def read_table(
    spark: SparkSession,
    root: str,
    cells: list[str] | None = None,
    ranges=None,
    version: int | None = None,
) -> DataFrame:
    """Read a table, pruning files by manifest key ranges.

    ``cells``: H3 query cells (any resolution coarser-or-equal than
    storage) — H3-string-keyed tables only. ``ranges``: generic [lo, hi]
    uint64 key ranges (e.g. ``kernel.s2.merge_ranges`` output for an S2
    region covering, sign-split internally) — works for any int-keyed
    table. Either way the file list shrinks BEFORE Spark plans (Iceberg
    manifest-pruning shape) and an exact residual range filter pushes
    down to parquet row groups. Without either, the whole snapshot is
    read through its listing directory: Spark gets one path and lists
    it in-process, with no Spark job at any file count (snapshots
    written before listings existed pass their file paths)."""
    if cells and ranges:
        raise ValueError("pass cells= or ranges=, not both")
    snap = load_snapshot(root, version)
    key_ranges = None
    if cells:
        key_ranges = _cells_to_ranges(snap, cells)
    elif ranges is not None:
        key_ranges = _signed_ranges(ranges)
    df = _read_entries(
        spark, Path(root), snap,
        None if key_ranges is None else _prune(snap, key_ranges),
    )
    if key_ranges:
        # exact residual filter (file pruning keeps a superset); range
        # predicates on the int64 cell push down to parquet row groups
        conds = None
        for lo, hi in key_ranges:
            cond = (F.col("_h3_int") >= F.lit(lo)) & (F.col("_h3_int") <= F.lit(hi))
            conds = cond if conds is None else (conds | cond)
        df = df.filter(conds)
    return df


def _prune(snap: dict, key_ranges) -> list[dict]:
    """The snapshot's file entries whose [h3_min, h3_max] overlaps some
    key range (files without stats always survive)."""
    return [
        f
        for f in snap["files"]
        if f["h3_min"] is None
        or any(not (f["h3_max"] < lo or f["h3_min"] > hi) for lo, hi in key_ranges)
    ]


def pruned_file_count(
    root: str, cells: list[str] | None = None, ranges=None
) -> tuple[int, int]:
    """(kept, total) file counts for a cell/range filter — tests/metrics."""
    if not cells and ranges is None:
        raise ValueError("pass cells= or ranges=")
    snap = load_snapshot(root)
    key_ranges = (
        _cells_to_ranges(snap, cells) if cells else _signed_ranges(ranges)
    )
    return len(_prune(snap, key_ranges)), len(snap["files"])


def _bucket_of_path(path: str) -> int | None:
    for part in Path(path).parts:
        if part.startswith("_h3_bucket="):
            v = part.split("=", 1)[1]
            return None if v == "__HIVE_DEFAULT_PARTITION__" else int(v)
    return None


def _read_entries(
    spark: SparkSession,
    root_p: Path,
    snap: dict,
    entries: list[dict] | None = None,
) -> DataFrame:
    """Read a subset of a snapshot's file entries — the whole snapshot
    when `entries` is None — WITH the snapshot's recorded (evolved)
    schema, so files written before a column was added null-fill it —
    every table read goes through here. Reading a raw file subset
    instead would resolve whatever schema the sampled footers happen to
    carry, silently dropping (or crashing on) evolved columns inside
    reads and merge/delete/CDC rewrites. Empty subset -> an empty frame
    with the full schema.

    A whole-snapshot read passes Spark the one listing directory when
    the snapshot has one; ``input_file_name()`` then names listing
    entries, which ``_touched`` maps back to manifest entries."""
    schema = None
    if snap.get("schema"):
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(snap["schema"])
    reader = spark.read.schema(schema) if schema is not None else spark.read
    if entries is None:
        if snap.get("listing") and snap["files"]:
            return reader.parquet(str(root_p / snap["listing"]))
        entries = snap["files"]
    if not entries:
        return reader.parquet(str(root_p / snap["files"][0]["path"])).limit(0)
    return reader.parquet(*[str(root_p / f["path"]) for f in entries])


def merge_table(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    merge_key: str,
) -> dict:
    """Iceberg-style copy-on-write MERGE (upsert): rows in `updates`
    REPLACE current rows with the same ``merge_key``; new keys insert.
    Only data files that actually CONTAIN a matching merge key are
    rewritten (found with one column-pruned key scan collecting
    distinct ``input_file_name`` — the same find-touched-files join a
    Delta/Iceberg MERGE plans, so a key whose update moves it to a
    different cell/bucket still has its OLD row rewritten away); every
    other file carries over into the new snapshot BY REFERENCE (its
    path is reused, no data moves), which is what bounds merge rewrite
    cost by the matched footprint instead of the table size at 100 TB.

    The rewrite lands in a new generation directory so readers of the
    old snapshot are never disturbed (time travel via
    ``read_table(version=...)`` keeps working), and commits as the
    version after the snapshot the merge planned against: if another
    writer committed that version first, the merge raises
    ``RuntimeError`` and leaves the table as that writer left it. Null
    merge keys or null layout keys in `updates` are rejected (they
    would land in the hive default partition and escape every range
    read)."""
    snap = load_snapshot(root)
    root_p = Path(root)
    bits = snap["bucket_bits"]
    h3_col = snap["h3_col"]
    if not snap["files"]:
        raise ValueError("merge_table requires a non-empty table")
    sample = _read_entries(spark, root_p, snap, snap["files"][:1])
    data_cols = [
        c for c in sample.columns if c not in ("_h3_int", "_h3_bucket")
    ]
    missing = set(data_cols) - set(updates.columns)
    if missing:
        raise ValueError(
            f"updates missing table columns: {sorted(missing)}"
        )
    if merge_key not in data_cols:
        raise ValueError(f"merge_key {merge_key!r} is not a table column")
    # pre-flight: one aggregate over the checkpoint gives its row count
    # and null-key count, both before anything is written
    up = updates.select(*data_cols).localCheckpoint(eager=True)
    n_rows, n_null = up.agg(
        F.count(F.lit(1)),
        F.count(F.when(F.col(merge_key).isNull() | F.col(h3_col).isNull(), 1)),
    ).first()
    if n_null:
        raise ValueError(
            f"updates contain null {merge_key!r} or {h3_col!r} rows — "
            "they would be unreachable after the write"
        )
    if not n_rows:
        return snap
    # find-touched-files: one column-pruned scan of the merge-key
    # column, semi-joined with the update keys, collecting only the
    # distinct file names that contain a match (file-count-bounded).
    # Scanning by key — not by the updates' target buckets — is what
    # keeps the replace contract when an update MOVES a key to a new
    # cell: the old row's file is still rewritten without it.
    up_keys = up.select(merge_key).distinct()
    hit = (
        _read_entries(spark, root_p, snap)
        # capture the file name AT SCAN TIME: input_file_name() is only
        # defined in the scan's stage and reads empty after an exchange
        .select(merge_key, F.input_file_name().alias("_f"))
        .join(F.broadcast(up_keys), merge_key, "semi")
        .select("_f")
        .distinct()
        .collect()
    )
    affected, carried = _touched(root_p, snap, (r["_f"] for r in hit))
    pieces = up
    if affected:
        old = _read_entries(spark, root_p, snap, affected)
        keep_old = old.join(
            up.select(merge_key).distinct(), merge_key, "anti"
        ).select(*data_cols)
        pieces = pieces.unionByName(keep_old)
    return _rewrite(
        root_p, snap, pieces, carried, bits,
        rewritten_files=len(affected), merged_into=snap["version"],
    )


def _touched(
    root_p: Path, snap: dict, uris
) -> tuple[list[dict], list[dict]]:
    """Split `snap`'s file entries into those named by the
    ``input_file_name()`` URIs and the rest. Spark percent-encodes the
    URIs; they are decoded before matching, or a table root with spaces
    or escaped characters would never match its manifest paths. A URI
    inside the snapshot's listing names ``files[i]`` by its index ``i``;
    the entry itself is never resolved, because a copied table (e.g.
    ``shutil.copytree``) holds plain files where the links were."""
    listing = (
        (root_p / snap["listing"]).resolve() if snap.get("listing") else None
    )
    hit = set()
    for uri in uris:
        parsed = urlparse(uri)
        p = Path(unquote(parsed.path) if parsed.scheme else uri)
        if p.parent.resolve() == listing:
            hit.add(snap["files"][int(p.name)]["path"])
        else:
            hit.add(str(p.resolve().relative_to(root_p.resolve())))
    return (
        [f for f in snap["files"] if f["path"] in hit],
        [f for f in snap["files"] if f["path"] not in hit],
    )


def _rewrite(
    root_p: Path,
    snap: dict,
    rows: DataFrame,
    carried: list[dict],
    bits: int,
    **fields,
) -> dict:
    """Commit, as the version after `snap`, the data-column `rows`
    clustered into a new generation with `bits` bucket bits plus the
    `carried` entries of `snap` by reference; `fields` are recorded in
    the snapshot (e.g. ``merged_into``)."""
    key_is_int = snap.get("key_kind") == "int"
    gen, new_files = _write_generation(
        root_p, _with_key_cols(rows, snap["h3_col"], key_is_int, bits)
    )
    return _commit(
        root_p,
        snap["version"],
        gen,
        {
            "h3_col": snap["h3_col"],
            "key_kind": snap.get("key_kind", "h3_str"),
            "bucket_bits": bits,
            "files": carried + new_files,
            "carried_files": len(carried),
            **({"schema": snap["schema"]} if "schema" in snap else {}),
            **fields,
        },
    )


def delete_table(
    spark: SparkSession,
    root: str,
    predicate,
) -> dict:
    """Copy-on-write DELETE: rows matching ``predicate`` (a Column or a
    SQL expression string over the table's data columns) are removed
    from the current snapshot. Only files that actually CONTAIN a
    matching row are rewritten (found with one predicate-filtered scan
    collecting distinct ``input_file_name`` — a file-count-bounded,
    metadata-sized result); every other file carries into the new
    snapshot by reference. SQL DELETE null semantics: a predicate that
    evaluates NULL on a row does not delete it.

    Old snapshots stay readable (``read_table(version=...)`` time
    travel); the rewrite commits like ``merge_table``'s, raising
    ``RuntimeError`` if another writer committed first."""
    snap = load_snapshot(root)
    root_p = Path(root)
    if not snap["files"]:
        raise ValueError("delete_table requires a non-empty table")
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    hit = (
        _read_entries(spark, root_p, snap)
        .filter(pred)
        .groupBy(F.input_file_name().alias("_f"))
        .count()
        .collect()
    )
    affected, carried = _touched(root_p, snap, (r["_f"] for r in hit))
    if not affected:
        return snap  # no matching rows: the snapshot is unchanged
    data_cols_df = _read_entries(spark, root_p, snap, affected)
    data_cols = [
        c for c in data_cols_df.columns if c not in ("_h3_int", "_h3_bucket")
    ]
    # NULL-predicate rows survive, exactly like SQL DELETE
    pieces = data_cols_df.filter(~F.coalesce(pred, F.lit(False))).select(
        *data_cols
    )
    return _rewrite(
        root_p, snap, pieces, carried, snap["bucket_bits"],
        rewritten_files=len(affected),
        deleted_from=snap["version"],
        deleted_rows=sum(r["count"] for r in hit),
    )


def table_changes(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int,
    key_col: str,
) -> DataFrame:
    """Iceberg-changelog-style incremental read: the NET row-level
    changes between two snapshots, as the table's data columns plus
    ``_change_type`` in {insert, delete, update_preimage,
    update_postimage}. ``key_col`` must be unique per snapshot (the
    same discipline ``merge_table`` enforces for its merge key).

    Cost is bounded by the snapshots' FILE diff, not the table size:
    files carried between snapshots by reference (identical manifest
    path — the untouched buckets of every merge/delete) are never
    opened; only files added or removed between the two versions are
    read, then rows identical on both sides cancel (a rewrite that
    copies a row to a new file emits nothing — so a pure compaction
    diffs to zero changes over any number of rewritten bytes). This is
    what lets a 100 TB downstream consumer process a day's merges by
    reading the day's rewritten buckets instead of rescanning the
    table."""
    sf = load_snapshot(root, from_version)
    st = load_snapshot(root, to_version)
    root_p = Path(root)
    from_files = {f["path"] for f in sf["files"]}
    to_files = {f["path"] for f in st["files"]}
    added = sorted(to_files - from_files)
    removed = sorted(from_files - to_files)
    all_entries = sf["files"] + st["files"]
    if not all_entries:
        raise ValueError("both snapshots are empty — nothing to diff")
    # both sides read with the NEWER snapshot's schema (schemas are
    # append-only unions, so it contains the older one): rows written
    # before a column existed null-fill it, and a diff across a
    # schema-evolution boundary compares aligned structs instead of
    # crashing on an unresolved column
    wide = st if st["version"] >= sf["version"] else sf
    anchor = {"files": all_entries, "schema": wide.get("schema")}
    by_path = {f["path"]: f for f in all_entries}

    def _read(paths: list[str]) -> DataFrame:
        return _read_entries(
            spark, root_p, anchor, [by_path[p] for p in paths]
        )

    new_side = _read(added)
    old_side = _read(removed)
    data_cols = [
        c for c in new_side.columns if c not in ("_h3_int", "_h3_bucket")
    ]
    if key_col not in data_cols:
        raise ValueError(f"key_col {key_col!r} is not a table column")
    pa = new_side.select(
        F.col(key_col).alias("_k"), F.struct(*data_cols).alias("_new")
    )
    pr = old_side.select(
        F.col(key_col).alias("_k"), F.struct(*data_cols).alias("_old")
    )
    tag = lambda d, t: d.withColumn("_change_type", F.lit(t))  # noqa: E731
    ins = tag(
        pa.join(pr.select("_k"), "_k", "anti").select("_new.*"), "insert"
    )
    dels = tag(
        pr.join(pa.select("_k"), "_k", "anti").select("_old.*"), "delete"
    )
    changed = pa.join(pr, "_k").filter(
        ~F.col("_new").eqNullSafe(F.col("_old"))
    )
    pre = tag(changed.select("_old.*"), "update_preimage")
    post = tag(changed.select("_new.*"), "update_postimage")
    return ins.unionByName(dels).unionByName(pre).unionByName(post)


def rollup_delta(
    changes: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Incremental-view-maintenance deltas from a ``table_changes``
    change set, for count+sum rollup states: each change row carries
    sign +1 (insert / update_postimage) or -1 (delete /
    update_preimage); one partial-combined aggregate yields
    (group_cols, d_n, d_sum_<c>...). Self-inverse algebra: applying a
    change set and then the reverse diff cancels exactly (counts and
    sums are abelian-group aggregates — max/min are NOT maintainable
    this way and are deliberately unsupported)."""
    sign = (
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1),
        )
        .when(
            F.col("_change_type").isin("delete", "update_preimage"),
            F.lit(-1),
        )
        # unknown change kinds fail the job (F.sum would silently SKIP
        # a null sign, under-counting the delta with no error)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("rollup_delta: unknown _change_type "),
                    F.col("_change_type"),
                )
            ).cast("int")
        )
    )
    aggs = [F.sum(sign).alias("d_n")] + [
        F.sum(sign * F.col(c)).alias(f"d_sum_{c}") for c in sum_cols
    ]
    return changes.groupBy(*group_cols).agg(*aggs)


def maintain_rollup(
    state: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Apply a ``rollup_delta`` to a (group_cols, n, sum_<c>...) state:
    full-outer merge on the group keys, add counts and sums, drop groups
    whose count reaches zero (all members deleted). At 100 TB this is
    the point of CDC: the day's rollup refresh joins |changed groups|
    delta rows against the state instead of re-aggregating the table."""
    on = list(group_cols)
    merged = state.join(delta, on, "outer")
    n = F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("d_n"), F.lit(0))
    cols = [F.col(c) for c in on] + [n.alias("n")]
    for c in sum_cols:
        cols.append(
            (
                F.coalesce(F.col(f"sum_{c}"), F.lit(0))
                + F.coalesce(F.col(f"d_sum_{c}"), F.lit(0))
            ).alias(f"sum_{c}")
        )
    return merged.select(*cols).filter(F.col("n") > 0)


def compact_table(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 << 20,
) -> dict:
    """Table maintenance: rewrite the CURRENT snapshot's rows into
    fewer, larger files (Iceberg rewrite_data_files semantics) and
    commit the result as a new snapshot that records
    ``compacted_from``.

    The bucket width shrinks to roughly total_bytes / target files
    (file count tracks 2^bits), the rewrite lands in a new generation
    directory so readers of the old snapshot are never disturbed, and
    clustering/pruning behavior is preserved — only the file
    granularity changes. Old generations are reclaimed by
    `expire_snapshots`. Like all maintenance, run it only while no
    writer is active."""
    import math

    snap = load_snapshot(root)
    root_p = Path(root)
    total_bytes = sum(
        (root_p / f["path"]).stat().st_size for f in snap["files"]
    )
    bits = max(
        0,
        min(
            BUCKET_BITS,
            math.ceil(math.log2(max(1.0, total_bytes / target_file_bytes))),
        ),
    )
    rows = _read_entries(spark, root_p, snap).drop(
        "_h3_int", "_h3_bucket"
    )
    return _rewrite(
        root_p, snap, rows, [], bits,
        rewritten_files=len(snap["files"]), compacted_from=snap["version"],
    )


def expire_snapshots(root: str, keep_last: int = 1) -> dict:
    """Table maintenance: drop all but the newest `keep_last` snapshots
    and delete every data file no kept snapshot references (Iceberg
    expire_snapshots + orphan-file cleanup), including generation
    directories no snapshot ever committed; then every
    ``metadata/files-*`` listing no kept snapshot names (expired
    snapshots', a losing or killed writer's) and every stale
    ``metadata/.v<N>.*.tmp`` temp snapshot. Kept snapshots' listings
    are never touched. Expired snapshots are removed before the files
    they name, so an interrupted expiry never leaves a snapshot
    pointing at missing data. Returns counts. Run it only while no
    writer is active: it removes the generation, listing and temp file
    of a writer that has not committed yet."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    root_p = Path(root)
    meta = root_p / "metadata"
    versions = _versions(root_p)
    if not versions:
        # an empty keep-set would classify EVERY file as orphaned — a
        # typo'd root must never be vacuumed
        raise FileNotFoundError(f"no snapshots under {meta}")
    keep = set(versions[-keep_last:])
    referenced: set = set()
    listings: set = set()
    for v in keep:
        snap = json.loads((meta / f"v{v}.json").read_text())
        referenced.update(f["path"] for f in snap["files"])
        if "listing" in snap:
            listings.add(Path(snap["listing"]).name)
    removed_snaps = 0
    for v in versions:
        if v not in keep:
            (meta / f"v{v}.json").unlink()
            removed_snaps += 1
    for d in meta.glob("files-*"):
        if d.name not in listings:
            shutil.rmtree(d)
    for tmp in meta.glob(".v*.tmp"):
        tmp.unlink()
    removed_files = 0
    # whole generation directories no kept snapshot touches go wholesale
    # (including Spark's _SUCCESS/.crc sidecars); referenced generations
    # get per-file orphan cleanup only
    ref_tops = {Path(p).parts[0] for p in referenced}
    for d in list(root_p.iterdir()):
        if d.is_dir() and d.name != "metadata" and d.name not in ref_tops:
            removed_files += sum(1 for _ in d.rglob("*.parquet"))
            shutil.rmtree(d)
    for p in list(root_p.rglob("*.parquet")):
        if str(p.relative_to(root_p)) not in referenced:
            p.unlink()
            removed_files += 1
    return {
        "kept_snapshots": sorted(keep),
        "removed_snapshots": removed_snaps,
        "removed_files": removed_files,
    }
