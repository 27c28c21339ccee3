"""Table layer (manifest pruning, snapshots) + checkpointed-stage resume."""

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from sparkh3 import dataframe as dfo
from sparkh3 import datagen
from sparkh3.operators import spans
from sparkh3.plans import checkpoint
from sparkh3.sources import manifest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def h3_docs(spark):
    d = datagen.interleaved_documents(spark, SF_DIR)
    pts = spans.extract_geometry(d).select("doc_id", "lat", "lng")
    return dfo.geo_to_h3(pts, 7)


class TestManifestTable:
    def test_write_read_roundtrip(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "tbl")
        snap = manifest.write_table(h3_docs, root, "h3_07")
        assert snap["version"] == 1
        assert snap["total_rows"] == h3_docs.count()
        back = manifest.read_table(spark, root)
        assert back.count() == snap["total_rows"]
        assert "h3_07" in back.columns

    def test_file_pruning(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "tbl")
        manifest.write_table(h3_docs, root, "h3_07")
        # query one hub's res-3 ancestor: only a few files should survive
        one = h3_docs.filter(
            (F.abs(F.col("lat") - 40.75) < 3) & (F.abs(F.col("lng") + 73.99) < 3)
        ).first()
        import numpy as np

        from sparkh3.kernel import index as ix

        anc = ix.int_to_str(
            ix.cell_to_parent(ix.str_to_int([one.h3_07]), 3)
        )[0]
        kept, total = manifest.pruned_file_count(root, [anc])
        assert kept < total
        got = manifest.read_table(spark, root, cells=[anc])
        # exactness: pruned read == full-scan filter by parent
        full = manifest.read_table(spark, root).withColumn(
            "_p3",
            F.lower(F.hex(
                F.expr(
                    f"(_h3_int & {~(15 << 52)}) | {3 << 52} | {(1 << 36) - 1}"
                )
            )),
        )
        expect = full.filter(F.col("_p3") == anc).count()
        assert got.count() == expect
        assert got.count() > 0

    def test_snapshot_versions(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "tbl")
        manifest.write_table(h3_docs.limit(100), root, "h3_07")
        manifest.write_table(h3_docs, root, "h3_07")
        s1 = manifest.load_snapshot(root, 1)
        s2 = manifest.load_snapshot(root)
        assert s2["version"] == 2 and s2["parent"] == 1
        assert s1["total_rows"] == 100


class TestCheckpointResume:
    def test_resume_skips_completed_shards(self, spark, h3_docs, tmp_path):
        ckpt = str(tmp_path / "ckpt")

        def agg_counts(df):
            return df.groupBy("h3_07").agg(F.count("*").alias("n"))

        # first attempt dies after 3 shards
        with pytest.raises(RuntimeError, match="injected"):
            checkpoint.run_stage(
                h3_docs, "counts", agg_counts, ckpt, "doc_id", n_shards=6,
                fail_on_shard=3,
            )
        done_before = len(checkpoint.stage_metrics(ckpt, "counts"))
        assert done_before == 3
        # resume completes only the remaining shards
        out = checkpoint.run_stage(
            h3_docs, "counts", agg_counts, ckpt, "doc_id", n_shards=6
        )
        metrics = checkpoint.stage_metrics(ckpt, "counts")
        assert len(metrics) == 6
        # ledger rows_in sums to input size; output equals direct compute
        assert sum(m["rows_in"] for m in metrics) == h3_docs.count()
        direct = agg_counts(h3_docs)
        got = out.groupBy("h3_07").agg(F.sum("n").alias("n"))
        diff = (
            got.join(direct.withColumnRenamed("n", "n2"), "h3_07", "full")
            .filter(
                F.coalesce(F.col("n"), F.lit(-1))
                != F.coalesce(F.col("n2"), F.lit(-2))
            )
            .count()
        )
        assert diff == 0

    def test_fingerprint_invalidates_stale(self, spark, h3_docs, tmp_path):
        ckpt = str(tmp_path / "ckpt2")

        def ident(df):
            return df

        checkpoint.run_stage(
            h3_docs.limit(50), "s", ident, ckpt, "doc_id", n_shards=2
        )
        m1 = checkpoint.stage_metrics(ckpt, "s")
        # different input -> fingerprints mismatch -> shards re-run
        checkpoint.run_stage(
            h3_docs.limit(80), "s", ident, ckpt, "doc_id", n_shards=2
        )
        m2 = checkpoint.stage_metrics(ckpt, "s")
        assert sum(m["rows_in"] for m in m2) == 80
        assert m1 != m2


class TestS2IntKeyedTable:
    """S2-keyed manifest table: covering -> merge_ranges -> file pruning.
    Exercises the int-key write path and the sign-split range pruning
    (S2 faces 4-5 have the uint64 top bit set -> negative int64)."""

    @pytest.fixture(scope="class")
    def s2_docs(self, spark):
        from sparkh3 import functions as H3F

        d = datagen.interleaved_documents(spark, SF_DIR)
        pts = spans.extract_geometry(d).select("doc_id", "lat", "lng")
        return pts.withColumn(
            "s2_14", H3F.latlng_to_s2_udf(14)(F.col("lat"), F.col("lng"))
        )

    def test_roundtrip_and_covering_prune(self, spark, s2_docs, tmp_path):
        import numpy as np

        from sparkh3.kernel import s2 as s2k

        root = str(tmp_path / "s2tbl")
        snap = manifest.write_table(s2_docs, root, "s2_14", key_is_int=True)
        assert snap["key_kind"] == "int"
        assert manifest.read_table(spark, root).count() == snap["total_rows"]

        rect = (38.0, 43.0, -77.0, -71.0)
        cov = s2k.rect_covering(*rect, 7)
        lo, hi = s2k.merge_ranges(cov)
        ranges = list(zip(lo.tolist(), hi.tolist()))
        kept, total = manifest.pruned_file_count(root, ranges=ranges)
        assert kept < total
        got = manifest.read_table(spark, root, ranges=ranges)
        # superset contract: every row inside the rect survives pruning
        inside = (
            (F.col("lat") >= rect[0]) & (F.col("lat") <= rect[1])
            & (F.col("lng") >= rect[2]) & (F.col("lng") <= rect[3])
        )
        n_inside_full = manifest.read_table(spark, root).filter(inside).count()
        assert n_inside_full > 0
        assert got.filter(inside).count() == n_inside_full
        # exactness of the range filter itself: pruned read == full scan
        # filtered by uint64-range membership computed kernel-side
        full = manifest.read_table(spark, root).select("_h3_int").toPandas()
        keys = full["_h3_int"].to_numpy().astype(np.int64).view(np.uint64)
        mask = np.zeros(len(keys), dtype=bool)
        for a, b in zip(lo, hi):
            mask |= (keys >= a) & (keys <= b)
        assert got.count() == int(mask.sum())

    def test_polygon_covering_prunes_files(self, spark, s2_docs, tmp_path):
        """The round-4 arbitrary-polygon coverer feeds the same
        merge_ranges -> manifest pruning path as rect/cap: a triangle
        query prunes files AND keeps every point inside the planar
        polygon (superset contract end-to-end through the table layer)."""
        from sparkh3.kernel import s2 as s2k

        root = str(tmp_path / "s2tbl_poly")
        manifest.write_table(s2_docs, root, "s2_14", key_is_int=True)
        tri = [(38.0, -76.0), (40.5, -70.5), (43.0, -75.0)]
        cov = s2k.polygon_covering(tri, 7)
        lo, hi = s2k.merge_ranges(cov)
        ranges = list(zip(lo.tolist(), hi.tolist()))
        kept, total = manifest.pruned_file_count(root, ranges=ranges)
        assert kept < total
        got = manifest.read_table(spark, root, ranges=ranges)
        import numpy as np

        full = manifest.read_table(spark, root).select(
            "doc_id", "lat", "lng"
        ).toPandas()
        plat = np.array([p[0] for p in tri] + [tri[0][0]])
        plng = np.array([p[1] for p in tri] + [tri[0][1]])
        inside = s2k._point_in_ring(
            full["lng"].to_numpy(), full["lat"].to_numpy(), plng, plat
        )
        want = set(full["doc_id"][inside])
        assert want  # non-degenerate fixture
        have = {r.doc_id for r in got.select("doc_id").collect()}
        assert want <= have  # pruned read keeps every in-polygon row

    def test_sign_split_ranges(self):
        two63, two64 = 1 << 63, 1 << 64
        out = manifest._signed_ranges([(two63 - 5, two63 + 5)])
        assert out == [(two63 - 5, two63 - 1), (-two64 + two63, -two64 + two63 + 5)]
        assert manifest._signed_ranges([(3, 9)]) == [(3, 9)]
        with pytest.raises(ValueError):
            manifest._signed_ranges([(9, 3)])

    def test_negative_face_keys_prune_exactly(self, spark, tmp_path):
        """Keys on faces 4-5 (negative int64) round-trip the manifest
        and range-prune correctly."""
        import numpy as np

        from sparkh3.kernel import s2 as s2k

        rng = np.random.default_rng(11)
        la = rng.uniform(-60.0, -20.0, 400)
        lo_ = rng.uniform(-120.0, -60.0, 400)  # face 4/5 heavy region
        cells = s2k.latlng_to_cell(la, lo_, 14).view(np.int64)
        df = spark.createDataFrame(
            [(int(i), int(c)) for i, c in enumerate(cells)],
            "row_id long, s2_14 long",
        )
        root = str(tmp_path / "negtbl")
        manifest.write_table(df, root, "s2_14", key_is_int=True)
        rect = (-55.0, -30.0, -110.0, -70.0)
        cov = s2k.rect_covering(*rect, 6)
        rlo, rhi = s2k.merge_ranges(cov)
        got = manifest.read_table(
            spark, root, ranges=list(zip(rlo.tolist(), rhi.tolist()))
        )
        keys = cells.view(np.uint64)
        mask = np.zeros(len(keys), dtype=bool)
        for a, b in zip(rlo, rhi):
            mask |= (keys >= a) & (keys <= b)
        assert got.count() == int(mask.sum()) > 0


class TestTableMaintenance:
    def test_compact_then_expire(self, spark, h3_docs, tmp_path):
        from pyspark.sql import functions as F

        root = str(tmp_path / "mnt")
        snap1 = manifest.write_table(h3_docs, root, "h3_07")
        n_files1 = len(snap1["files"])
        assert n_files1 > 4  # default bucket width scatters a small table

        snap2 = manifest.compact_table(spark, root, target_file_bytes=1 << 30)
        assert snap2["version"] == snap1["version"] + 1
        assert snap2["compacted_from"] == snap1["version"]
        assert len(snap2["files"]) < n_files1
        assert snap2["total_rows"] == snap1["total_rows"]
        # current snapshot reads identically; old version still readable
        cur = manifest.read_table(spark, root)
        assert cur.count() == snap1["total_rows"]
        old = manifest.read_table(spark, root, version=snap1["version"])
        assert old.count() == snap1["total_rows"]
        # pruning still exact after compaction
        one = h3_docs.filter(
            (F.abs(F.col("lat") - 40.75) < 3) & (F.abs(F.col("lng") + 73.99) < 3)
        ).first()
        import numpy as np

        from sparkh3.kernel import index as ix

        anc = ix.int_to_str(ix.cell_to_parent(ix.str_to_int([one.h3_07]), 3))[0]
        got = manifest.read_table(spark, root, cells=[anc]).count()
        want = manifest.read_table(spark, root).filter(
            F.col("_h3_int").between(
                *manifest.cell_descendant_range(int(anc, 16), 7)
            )
        ).count()
        assert got == want > 0

        res = manifest.expire_snapshots(root, keep_last=1)
        assert res["removed_snapshots"] == 1 and res["removed_files"] == n_files1
        # the old generation is gone, the live one unharmed
        assert manifest.read_table(spark, root).count() == snap1["total_rows"]
        with pytest.raises(FileNotFoundError):
            manifest.load_snapshot(root, version=snap1["version"])

    def test_expire_validates(self, tmp_path):
        with pytest.raises(ValueError):
            manifest.expire_snapshots(str(tmp_path), keep_last=0)

    def test_compact_int_keyed_small_table(self, spark, tmp_path):
        """bits=0 compaction on an int-keyed (S2) table must NOT bucket
        on the full key (shift-by-64 is a Java no-op) — a small table
        compacts to a handful of files, not one per distinct cell."""
        import numpy as np

        from sparkh3.kernel import s2 as s2k

        rng = np.random.default_rng(5)
        cells = s2k.latlng_to_cell(
            rng.uniform(-60, 60, 300), rng.uniform(-170, 170, 300), 14
        ).view(np.int64)
        df = spark.createDataFrame(
            [(int(i), int(c)) for i, c in enumerate(cells)],
            "row_id long, s2_14 long",
        )
        root = str(tmp_path / "s2mnt")
        snap1 = manifest.write_table(df, root, "s2_14", key_is_int=True)
        snap2 = manifest.compact_table(spark, root, target_file_bytes=1 << 30)
        assert len(snap2["files"]) <= 2
        assert snap2["total_rows"] == snap1["total_rows"] == 300

    def test_append_lands_in_live_generation(self, spark, h3_docs, tmp_path):
        """After compact+expire, an append must commit into the live
        generation and keep every compacted row."""
        root = str(tmp_path / "appmnt")
        manifest.write_table(h3_docs, root, "h3_07")
        base_rows = manifest.load_snapshot(root)["total_rows"]
        manifest.compact_table(spark, root, target_file_bytes=1 << 30)
        manifest.expire_snapshots(root, keep_last=1)
        extra = h3_docs.limit(5)
        snap = manifest.write_table(extra, root, "h3_07", mode="append")
        assert snap["total_rows"] == base_rows + 5
        assert manifest.read_table(spark, root).count() == base_rows + 5

    def test_expire_refuses_nontable_root(self, tmp_path):
        (tmp_path / "stray.parquet").write_bytes(b"not really parquet")
        with pytest.raises(FileNotFoundError):
            manifest.expire_snapshots(str(tmp_path))
        assert (tmp_path / "stray.parquet").exists()


class TestTableChanges:
    def test_merge_diff_and_file_boundedness(self, spark, h3_docs, tmp_path):
        """CDC over a merge: inserts + update pre/postimages come out,
        unchanged rows in rewritten buckets cancel, and the diff only
        READS files added/removed between the snapshots."""
        root = str(tmp_path / "cdc")
        snap1 = manifest.write_table(h3_docs, root, "h3_07")
        rows = h3_docs.orderBy("doc_id").limit(3).collect()
        upd = spark.createDataFrame(
            [
                (rows[0].doc_id, 9.9, rows[0].lng, rows[0].h3_07),  # update
                (rows[1].doc_id, rows[1].lat, rows[1].lng, rows[1].h3_07),  # no-op
                ("doc-cdc-new", rows[2].lat, rows[2].lng, rows[2].h3_07),  # insert
            ],
            "doc_id string, lat double, lng double, h3_07 string",
        )
        snap2 = manifest.merge_table(spark, root, upd, merge_key="doc_id")
        ch = manifest.table_changes(
            spark, root, snap1["version"], snap2["version"], "doc_id"
        )
        by_type = {}
        for r in ch.collect():
            by_type.setdefault(r._change_type, []).append(r)
        assert [r.doc_id for r in by_type["insert"]] == ["doc-cdc-new"]
        assert [r.doc_id for r in by_type["update_preimage"]] == [rows[0].doc_id]
        assert [r.doc_id for r in by_type["update_postimage"]] == [rows[0].doc_id]
        assert abs(by_type["update_postimage"][0].lat - 9.9) < 1e-12
        assert abs(by_type["update_preimage"][0].lat - rows[0].lat) < 1e-12
        assert "delete" not in by_type  # the no-op upsert row cancels
        # file-boundedness: the scan set is exactly the snapshot file diff
        f1 = {f["path"] for f in snap1["files"]}
        f2 = {f["path"] for f in snap2["files"]}
        diff_paths = {
            str((tmp_path / "cdc" / p).resolve())
            for p in (f1 ^ f2)
        }
        read_paths = {
            str(Path(p[len("file:"):] if p.startswith("file:") else p).resolve())
            for p in ch.inputFiles()
        }
        assert read_paths <= diff_paths
        assert len(read_paths) < len(f1 | f2)

    def test_delete_diff(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "cdcdel")
        snap1 = manifest.write_table(h3_docs, root, "h3_07")
        victim = h3_docs.orderBy("doc_id").first().doc_id
        snap2 = manifest.delete_table(
            spark, root, F.col("doc_id") == victim
        )
        ch = manifest.table_changes(
            spark, root, snap1["version"], snap2["version"], "doc_id"
        ).collect()
        assert [(r.doc_id, r._change_type) for r in ch] == [
            (victim, "delete")
        ]

    def test_compaction_diffs_to_zero(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "cdccomp")
        snap1 = manifest.write_table(h3_docs, root, "h3_07")
        snap2 = manifest.compact_table(spark, root, target_file_bytes=1 << 30)
        assert snap2["version"] == snap1["version"] + 1
        ch = manifest.table_changes(
            spark, root, snap1["version"], snap2["version"], "doc_id"
        )
        assert ch.count() == 0  # every row moved files, none changed

    def test_validations(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "cdcval")
        snap = manifest.write_table(h3_docs, root, "h3_07")
        with pytest.raises(ValueError, match="key_col"):
            manifest.table_changes(
                spark, root, snap["version"], snap["version"], "nope"
            )

    def test_rollup_maintenance_matches_recompute(
        self, spark, h3_docs, tmp_path
    ):
        """IVM: v1 rollup + change deltas == direct v2 rollup, including
        a group dropping to zero after deletes."""
        root = str(tmp_path / "ivm")
        docs = h3_docs.withColumn(
            "grp", (F.length("doc_id") % 3).cast("long")
        )
        snap1 = manifest.write_table(docs, root, "h3_07")
        v1 = manifest.read_table(spark, root, version=1)
        state = v1.groupBy("grp").agg(
            F.count("*").alias("n"), F.sum("lat").alias("sum_lat")
        )
        # delete one whole group + update one row's lat
        snap2 = manifest.delete_table(spark, root, F.col("grp") == 0)
        one = (
            manifest.read_table(spark, root)
            .orderBy("doc_id")
            .limit(1)
            .drop("_h3_int", "_h3_bucket")
            .withColumn("lat", F.col("lat") + 1.0)
        )
        snap3 = manifest.merge_table(spark, root, one, "doc_id")
        changes = manifest.table_changes(
            spark, root, snap1["version"], snap3["version"], "doc_id"
        )
        delta = manifest.rollup_delta(changes, ["grp"], ["lat"])
        maintained = manifest.maintain_rollup(
            state, delta, ["grp"], ["lat"]
        )
        direct = (
            manifest.read_table(spark, root, version=snap3["version"])
            .groupBy("grp")
            .agg(F.count("*").alias("n"), F.sum("lat").alias("sum_lat"))
        )
        got = {
            r.grp: (r.n, round(r.sum_lat, 6)) for r in maintained.collect()
        }
        want = {
            r.grp: (r.n, round(r.sum_lat, 6)) for r in direct.collect()
        }
        assert got == want
        assert 0 not in got  # deleted-out group dropped, not n=0 row


class TestRangePruningFuzz:
    @pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
    def test_signed_ranges_membership_equivalence(self, seed):
        """_signed_ranges must preserve uint64 BETWEEN semantics exactly
        under the int64 reinterpretation, for random ranges straddling
        (or not) the sign boundary."""
        import numpy as np

        from sparkh3.sources import manifest

        rng = np.random.default_rng(seed)
        keys = rng.integers(0, 1 << 64, 2000, dtype=np.uint64)
        skeys = keys.view(np.int64)
        for _ in range(30):
            a, b = sorted(rng.integers(0, 1 << 64, 2, dtype=np.uint64).tolist())
            want = (keys >= a) & (keys <= b)
            got = np.zeros(len(keys), dtype=bool)
            for lo, hi in manifest._signed_ranges([(a, b)]):
                got |= (skeys >= lo) & (skeys <= hi)
            assert (got == want).all()


class TestMergeTable:
    def test_upsert_bucket_cow(self, spark, h3_docs, tmp_path):
        """MERGE semantics + the copy-on-write guarantee: matched keys
        replaced, new keys inserted, and every untouched bucket's file
        carries over by reference (same path, no rewrite)."""
        self._upsert_bucket_cow(spark, h3_docs, str(tmp_path / "merge"))

    def test_upsert_bucket_cow_root_with_space(self, spark, h3_docs, tmp_path):
        """input_file_name() percent-encodes the space; the touched-file
        lookup must decode it to match the manifest paths."""
        self._upsert_bucket_cow(spark, h3_docs, str(tmp_path / "merge root"))

    def _upsert_bucket_cow(self, spark, h3_docs, root):
        snap1 = manifest.write_table(h3_docs, root, "h3_07")
        two = h3_docs.orderBy("doc_id").limit(2).collect()
        upd = spark.createDataFrame(
            [
                # update: same doc_id + cell, moved coordinates
                (two[0].doc_id, 0.123, 0.456, two[0].h3_07),
                # insert: brand-new key in an existing cell
                ("doc-new-1", two[1].lat, two[1].lng, two[1].h3_07),
            ],
            "doc_id string, lat double, lng double, h3_07 string",
        )
        snap2 = manifest.merge_table(spark, root, upd, merge_key="doc_id")
        assert snap2["version"] == snap1["version"] + 1
        assert snap2["total_rows"] == snap1["total_rows"] + 1
        assert snap2["rewritten_files"] >= 1
        assert snap2["carried_files"] == len(snap1["files"]) - snap2["rewritten_files"]
        carried_paths = {f["path"] for f in snap1["files"]} & {
            f["path"] for f in snap2["files"]
        }
        assert len(carried_paths) == snap2["carried_files"]
        cur = manifest.read_table(spark, root)
        got = cur.filter(F.col("doc_id") == two[0].doc_id).collect()
        assert len(got) == 1 and abs(got[0].lat - 0.123) < 1e-12
        assert cur.filter(F.col("doc_id") == "doc-new-1").count() == 1
        # time travel: the old snapshot still shows the old row
        old = manifest.read_table(spark, root, version=snap1["version"])
        assert (
            abs(
                old.filter(F.col("doc_id") == two[0].doc_id).first().lat
                - two[0].lat
            )
            < 1e-12
        )
        # pruned reads on the merged snapshot stay exact
        import numpy as np  # noqa: F401

        from sparkh3.kernel import index as ix

        anc = ix.int_to_str(
            ix.cell_to_parent(ix.str_to_int([two[0].h3_07]), 3)
        )[0]
        pr = manifest.read_table(spark, root, cells=[anc])
        assert (
            pr.filter(F.col("doc_id") == two[0].doc_id).first().lat - 0.123
        ) < 1e-12

    def test_merge_validations(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "mval")
        manifest.write_table(h3_docs, root, "h3_07")
        bad = spark.createDataFrame(
            [("doc-1", 0.0)], "doc_id string, lat double"
        )
        with pytest.raises(ValueError, match="missing table columns"):
            manifest.merge_table(spark, root, bad, merge_key="doc_id")
        nullkey = spark.createDataFrame(
            [(None, 0.0, 0.0, "8a2a1072b59ffff")],
            "doc_id string, lat double, lng double, h3_07 string",
        )
        with pytest.raises(ValueError, match="null"):
            manifest.merge_table(spark, root, nullkey, merge_key="doc_id")


class TestDeleteTable:
    def test_cow_delete(self, spark, h3_docs, tmp_path):
        """Predicate delete rewrites only files containing matches;
        NULL-predicate rows survive (SQL DELETE semantics)."""
        self._cow_delete(spark, h3_docs, str(tmp_path / "del"))

    def test_cow_delete_root_with_space(self, spark, h3_docs, tmp_path):
        """input_file_name() percent-encodes the space; the touched-file
        lookup must decode it to match the manifest paths."""
        self._cow_delete(spark, h3_docs, str(tmp_path / "del root"))

    def _cow_delete(self, spark, h3_docs, root):
        snap1 = manifest.write_table(h3_docs, root, "h3_07")
        victim = h3_docs.orderBy("doc_id").first()
        snap2 = manifest.delete_table(
            spark, root, F.col("doc_id") == victim.doc_id
        )
        assert snap2["version"] == snap1["version"] + 1
        assert snap2["deleted_rows"] == 1
        assert snap2["total_rows"] == snap1["total_rows"] - 1
        assert 1 <= snap2["rewritten_files"] < len(snap1["files"])
        carried_paths = {f["path"] for f in snap1["files"]} & {
            f["path"] for f in snap2["files"]
        }
        assert len(carried_paths) == snap2["carried_files"]
        cur = manifest.read_table(spark, root)
        assert cur.filter(F.col("doc_id") == victim.doc_id).count() == 0
        assert cur.count() == snap2["total_rows"]
        # time travel still shows the deleted row
        old = manifest.read_table(spark, root, version=snap1["version"])
        assert old.filter(F.col("doc_id") == victim.doc_id).count() == 1
        # persisted snapshot carries the audit fields
        import json as _json
        from pathlib import Path as _P

        meta = _json.loads(
            (_P(root) / "metadata" / f"v{snap2['version']}.json").read_text()
        )
        assert meta["deleted_rows"] == 1
        assert meta["deleted_from"] == snap1["version"]

    def test_no_match_is_noop(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "delnoop")
        snap1 = manifest.write_table(h3_docs, root, "h3_07")
        snap2 = manifest.delete_table(
            spark, root, "doc_id = 'no-such-doc-id'"
        )
        assert snap2["version"] == snap1["version"]
        assert manifest.read_table(spark, root).count() == snap1["total_rows"]

    def test_sql_string_predicate(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "delsql")
        manifest.write_table(h3_docs, root, "h3_07")
        n_match = h3_docs.filter("lat > 0").count()
        snap = manifest.delete_table(spark, root, "lat > 0")
        assert snap["deleted_rows"] == n_match
        assert manifest.read_table(spark, root).filter("lat > 0").count() == 0


class TestSchemaEvolution:
    def test_append_adds_column_old_files_null_fill(self, spark, tmp_path):
        from sparkh3.sources import manifest

        root = str(tmp_path / "tbl")
        v1 = spark.createDataFrame(
            [("87283472bffffff", 1)], ["h3_07", "n"]
        )
        manifest.write_table(v1, root, "h3_07")
        v2 = spark.createDataFrame(
            [("872834730ffffff", 2, "web")], ["h3_07", "n", "source"]
        )
        snap = manifest.write_table(v2, root, "h3_07", mode="append")
        assert any(f["name"] == "source" for f in snap["schema"]["fields"])
        out = manifest.read_table(spark, root)
        rows = {r.h3_07: (r.n, r.source) for r in out.collect()}
        assert rows["87283472bffffff"] == (1, None)  # null-filled
        assert rows["872834730ffffff"] == (2, "web")

    def test_type_change_rejected(self, spark, tmp_path):
        from sparkh3.sources import manifest

        root = str(tmp_path / "tbl")
        manifest.write_table(
            spark.createDataFrame([("87283472bffffff", 1)], ["h3_07", "n"]),
            root,
            "h3_07",
        )
        bad = spark.createDataFrame(
            [("87283472bffffff", "one")], ["h3_07", "n"]
        )
        with pytest.raises(ValueError, match="changes type"):
            manifest.write_table(bad, root, "h3_07", mode="append")

    def test_compaction_carries_evolved_schema(self, spark, tmp_path):
        from sparkh3.sources import manifest

        root = str(tmp_path / "tbl")
        manifest.write_table(
            spark.createDataFrame([("87283472bffffff", 1)], ["h3_07", "n"]),
            root,
            "h3_07",
        )
        manifest.write_table(
            spark.createDataFrame(
                [("872834730ffffff", 2, "web")], ["h3_07", "n", "source"]
            ),
            root,
            "h3_07",
            mode="append",
        )
        manifest.compact_table(spark, root)
        out = manifest.read_table(spark, root)
        assert "source" in out.columns
        assert out.count() == 2


class TestCowRegressions:
    """Regression gates for the copy-on-write layer: key moves across
    buckets, schema evolution through merge/delete/CDC rewrites, and
    crash-replay orphan files."""

    def test_merge_key_move_leaves_no_stale_row(self, spark, h3_docs, tmp_path):
        """An update that MOVES a key to a different cell/bucket must
        rewrite the old row away — the replace contract holds wherever
        the old row lives, not only in the buckets the update targets."""
        root = str(tmp_path / "mvkey")
        snap1 = manifest.write_table(h3_docs, root, "h3_07")
        by_bucket = {}
        for f in snap1["files"]:
            bkt = manifest._bucket_of_path(f["path"])
            if bkt not in by_bucket:
                by_bucket[bkt] = (
                    spark.read.parquet(str(Path(root) / f["path"]))
                    .select("doc_id", "lat", "lng", "h3_07")
                    .first()
                )
        assert len(by_bucket) >= 2, "fixture must span multiple buckets"
        (a, b) = list(by_bucket.values())[:2]
        # move a's key into b's cell (a different bucket)
        upd = spark.createDataFrame(
            [(a.doc_id, b.lat, b.lng, b.h3_07)],
            "doc_id string, lat double, lng double, h3_07 string",
        )
        snap2 = manifest.merge_table(spark, root, upd, merge_key="doc_id")
        cur = manifest.read_table(spark, root)
        got = cur.filter(F.col("doc_id") == a.doc_id).collect()
        assert len(got) == 1, f"stale duplicate after key move: {got}"
        assert got[0].h3_07 == b.h3_07
        assert snap2["total_rows"] == snap1["total_rows"]

    def test_merge_preserves_evolved_column(self, spark, tmp_path):
        """merge_table must read affected files with the snapshot's
        evolved schema: rows rewritten from pre-evolution files keep a
        null-filled evolved column instead of crashing or dropping it."""
        root = str(tmp_path / "mevo")
        manifest.write_table(
            spark.createDataFrame(
                [("87283472bffffff", 1), ("87283472cffffff", 2)],
                ["h3_07", "n"],
            ),
            root,
            "h3_07",
        )
        manifest.write_table(
            spark.createDataFrame(
                [("872834730ffffff", 3, "web")], ["h3_07", "n", "source"]
            ),
            root,
            "h3_07",
            mode="append",
        )
        upd = spark.createDataFrame(
            [("87283472bffffff", 10, "api")], ["h3_07", "n", "source"]
        )
        manifest.merge_table(spark, root, upd, merge_key="h3_07")
        got = {
            r.h3_07: (r.n, r.source)
            for r in manifest.read_table(spark, root).collect()
        }
        assert got["87283472bffffff"] == (10, "api")
        # the keep_old rewrite of a pre-evolution row keeps source=null
        assert got["87283472cffffff"] == (2, None)
        assert got["872834730ffffff"] == (3, "web")

    def test_delete_preserves_evolved_column(self, spark, tmp_path):
        root = str(tmp_path / "devo")
        manifest.write_table(
            spark.createDataFrame(
                [("87283472bffffff", 1), ("87283472cffffff", 2)],
                ["h3_07", "n"],
            ),
            root,
            "h3_07",
        )
        manifest.write_table(
            spark.createDataFrame(
                [("872834730ffffff", 3, "web")], ["h3_07", "n", "source"]
            ),
            root,
            "h3_07",
            mode="append",
        )
        manifest.delete_table(spark, root, "n = 1")
        got = {
            r.h3_07: (r.n, r.source)
            for r in manifest.read_table(spark, root).collect()
        }
        assert got == {
            "87283472cffffff": (2, None),
            "872834730ffffff": (3, "web"),
        }

    def test_changes_across_schema_evolution(self, spark, tmp_path):
        """CDC between snapshots on either side of a column addition
        aligns both sides on the union schema (old rows null-fill)."""
        root = str(tmp_path / "cevo")
        manifest.write_table(
            spark.createDataFrame([("87283472bffffff", 1)], ["h3_07", "n"]),
            root,
            "h3_07",
        )
        manifest.write_table(
            spark.createDataFrame(
                [("872834730ffffff", 2, "web")], ["h3_07", "n", "source"]
            ),
            root,
            "h3_07",
            mode="append",
        )
        ch = manifest.table_changes(spark, root, 1, 2, "h3_07").collect()
        assert len(ch) == 1
        assert ch[0]._change_type == "insert"
        assert ch[0].h3_07 == "872834730ffffff" and ch[0].source == "web"

    def test_append_replay_ignores_orphan_files(self, spark, h3_docs, tmp_path):
        """A crashed append (parquet written, snapshot not committed)
        must not leak rows into the next commit: appends adopt exactly
        the files they wrote, never rglob strays."""
        import shutil

        root = str(tmp_path / "orph")
        snap1 = manifest.write_table(h3_docs, root, "h3_07")
        root_p = Path(root)
        # simulate the crash: copy a committed data file as a stray
        # into BOTH the live generation and an unreferenced one, as a
        # writer killed before its commit leaves it
        src = root_p / snap1["files"][0]["path"]
        live = Path(snap1["files"][0]["path"]).parts[0]
        orphan = "gen-0123456789abcdef0123456789abcdef"
        for gen in (live, orphan):
            dst = root_p / gen / "_h3_bucket=999" / "stray.parquet"
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copy(src, dst)
        extra = h3_docs.limit(3)
        snap2 = manifest.write_table(extra, root, "h3_07", mode="append")
        assert snap2["total_rows"] == snap1["total_rows"] + 3
        assert manifest.read_table(spark, root).count() == snap2["total_rows"]
        # the append adopted only its own generation's files
        added = snap2["files"][len(snap1["files"]):]
        assert snap2["files"][: len(snap1["files"])] == snap1["files"]
        assert len({Path(f["path"]).parts[0] for f in added}) == 1
        assert Path(added[0]["path"]).parts[0] not in (live, orphan)
        assert not any("stray" in f["path"] for f in snap2["files"])

    def test_rollup_delta_unknown_kind_raises(self, spark):
        ch = spark.createDataFrame(
            [("g", 1, "bogus_kind")], "g string, v long, _change_type string"
        )
        with pytest.raises(Exception, match="unknown _change_type"):
            manifest.rollup_delta(ch, ["g"], ["v"]).collect()


class TestCheckpointGuardrails:
    def _docs(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )

    def test_n_shards_mismatch_rejected(self, spark, tmp_path):
        df = self._docs(spark, ["a", "b", "c", "d"])
        ident = lambda d: d  # noqa: E731
        checkpoint.run_stage(df, "s", ident, str(tmp_path), "doc_id", n_shards=4)
        with pytest.raises(ValueError, match="n_shards"):
            checkpoint.run_stage(
                df, "s", ident, str(tmp_path), "doc_id", n_shards=2
            )

    def test_duplicate_multiplicity_change_reruns(self, spark, tmp_path):
        """[A,A] -> [B,B] has identical count AND xor digest (xor of a
        duplicated pair cancels); the sum component must force a
        re-run instead of silently reusing the stale output."""
        a = self._docs(spark, ["same", "same"])
        b = self._docs(spark, ["other", "other"])
        ident = lambda d: d  # noqa: E731
        checkpoint.run_stage(a, "m", ident, str(tmp_path), "doc_id", n_shards=1)
        out = checkpoint.run_stage(
            b, "m", ident, str(tmp_path), "doc_id", n_shards=1
        )
        assert sorted(r.text for r in out.collect()) == ["other", "other"]


# A child process that appends `rows` to the table at `root` and is
# SIGKILLed at one commit step; the kill points wrap the manifest's own
# functions, so the production code has no hook for them.
_KILL_CHILD = r"""
import json, os, signal, sys
from pyspark.sql import SparkSession
from sparkh3.sources import manifest

root, step, rows = sys.argv[1], sys.argv[2], json.loads(sys.argv[3])


def die():
    os.kill(os.getpid(), signal.SIGKILL)


def then_die(fn):
    def wrapped(*args):
        fn(*args)
        die()
    return wrapped


if step == "data_written":
    manifest._write_generation = then_die(manifest._write_generation)
elif step == "data_fsynced":  # the first fsync call covers the generation
    manifest._fsync = then_die(manifest._fsync)
elif step == "snapshot_written":  # temp snapshot written + fsynced
    os.link = lambda *args: die()
elif step == "linked":
    os.link = then_die(os.link)
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
df = spark.createDataFrame(
    [tuple(r) for r in rows],
    "doc_id string, lat double, lng double, h3_07 string",
)
manifest.write_table(df, root, "h3_07", mode="append")
sys.exit(3)  # the kill point was never reached
"""


class TestCommitProtocol:
    """Snapshot commits: one generation directory per writer, and an
    exclusive-create claim of the next ``v<N>.json``."""

    COLS = ["doc_id", "lat", "lng", "h3_07"]

    def _ids(self, spark, root, version=None):
        df = manifest.read_table(spark, root, version=version)
        return sorted(r.doc_id for r in df.select("doc_id").collect())

    def _tagged(self, h3_docs, tag, n):
        return (
            h3_docs.orderBy("doc_id")
            .limit(n)
            .withColumn("doc_id", F.concat(F.lit(f"{tag}-"), "doc_id"))
            .select(*self.COLS)
        )

    def test_overwrite_keeps_old_version_readable(self, spark, h3_docs, tmp_path):
        root = str(tmp_path / "ow")
        snap1 = manifest.write_table(self._tagged(h3_docs, "old", 50), root, "h3_07")
        ids1 = self._ids(spark, root)
        snap2 = manifest.write_table(self._tagged(h3_docs, "new", 20), root, "h3_07")
        assert snap2["version"] == 2 and snap2["parent"] == 1
        assert snap2["total_rows"] == 20
        assert self._ids(spark, root, version=1) == ids1
        assert all(i.startswith("new-") for i in self._ids(spark, root))
        # the overwritten generation lives until expire_snapshots
        res = manifest.expire_snapshots(root, keep_last=1)
        assert res["removed_files"] == len(snap1["files"])
        assert self._ids(spark, root) == self._ids(spark, root, version=2)

    def test_current_version_reads_snapshot_names_only(self, tmp_path):
        assert manifest.current_version(str(tmp_path)) is None
        with pytest.raises(FileNotFoundError):
            manifest.load_snapshot(str(tmp_path))
        meta = tmp_path / "metadata"
        meta.mkdir()
        for name in (
            "v1.json", "v3.json", "ivf_codebook_v9.json",
            "pq_codebook_v9.json", ".v7.gen-x.tmp", "v8.json.tmp",
            "vx.json", "v2a.json",
        ):
            (meta / name).write_text("{}")
        assert manifest.current_version(str(tmp_path)) == 3

    def test_racing_appends_loser_raises(
        self, spark, h3_docs, tmp_path, monkeypatch
    ):
        """The order that corrupted the table when both appends wrote
        the same directory: A writes its generation, B writes its
        generation, A commits, B commits. B must lose cleanly."""
        import threading

        root = str(tmp_path / "race")
        base = manifest.write_table(self._tagged(h3_docs, "base", 30), root, "h3_07")
        real = manifest._write_generation
        gens = {}
        a_written, b_written, a_done = (threading.Event() for _ in range(3))

        def paused(root_p, keyed):
            me = threading.current_thread().name
            if me == "B":
                assert a_written.wait(120)
            gens[me] = real(root_p, keyed)
            if me == "A":
                a_written.set()
                assert b_written.wait(120)
            else:
                b_written.set()
                assert a_done.wait(120)
            return gens[me]

        monkeypatch.setattr(manifest, "_write_generation", paused)
        results = {}

        def append(rows):
            me = threading.current_thread().name
            try:
                results[me] = manifest.write_table(rows, root, "h3_07", mode="append")
            except Exception as e:  # reported through `results`
                results[me] = e
            finally:
                if me == "A":
                    a_done.set()

        threads = [
            threading.Thread(target=append, name=t, args=(self._tagged(h3_docs, t, 3),))
            for t in ("A", "B")
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
        assert isinstance(results["A"], dict), results["A"]
        assert results["A"]["version"] == 2
        assert isinstance(results["B"], RuntimeError), results["B"]
        assert "concurrent commit detected" in str(results["B"])
        assert not gens["B"][0].exists()
        assert manifest.current_version(root) == 2
        ids = self._ids(spark, root)
        assert len(ids) == base["total_rows"] + 3
        assert sum(i.startswith("A-") for i in ids) == 3
        assert not any(i.startswith("B-") for i in ids)

    def test_concurrent_appends_keep_every_acknowledged_row(
        self, spark, h3_docs, tmp_path
    ):
        """More appending threads than cores: every acknowledged append's
        rows read back, no loser's do, and no loser leaves a generation."""
        import sys
        from concurrent.futures import ThreadPoolExecutor

        root = str(tmp_path / "stress")
        manifest.write_table(self._tagged(h3_docs, "base", 20), root, "h3_07")
        expect = set(self._ids(spark, root))
        batches = {f"w{i}": self._tagged(h3_docs, f"w{i}", 2) for i in range(6)}
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            with ThreadPoolExecutor(max_workers=len(batches)) as pool:
                futs = {
                    tag: pool.submit(
                        manifest.write_table, rows, root, "h3_07", mode="append"
                    )
                    for tag, rows in batches.items()
                }
                won = []
                for tag, fut in futs.items():
                    try:
                        fut.result(timeout=300)
                        won.append(tag)
                    except RuntimeError as e:
                        assert "concurrent commit detected" in str(e)
        finally:
            sys.setswitchinterval(interval)
        assert won
        for tag in won:
            expect |= {r.doc_id for r in batches[tag].collect()}
        got = self._ids(spark, root)
        assert len(got) == len(expect) == 20 + 2 * len(won)
        assert set(got) == expect
        snap = manifest.load_snapshot(root)
        assert snap["version"] == 1 + len(won)
        referenced = {Path(f["path"]).parts[0] for f in snap["files"]}
        on_disk = {p.name for p in Path(root).iterdir() if p.name != "metadata"}
        assert on_disk == referenced

    @pytest.mark.parametrize(
        "step, committed",
        [
            ("data_written", False),
            ("data_fsynced", False),
            ("snapshot_written", False),
            ("linked", True),
        ],
    )
    def test_kill_at_commit_step(self, spark, h3_docs, tmp_path, step, committed):
        """SIGKILL a writer at each commit step: the table then reads
        exactly the old snapshot or exactly the new one, and the next
        append commits on top of it."""
        import signal
        import subprocess
        import sys

        root = str(tmp_path / "kill")
        manifest.write_table(self._tagged(h3_docs, "base", 20), root, "h3_07")
        old_ids = self._ids(spark, root)
        rows = [list(r) for r in self._tagged(h3_docs, "kid", 4).collect()]
        proc = subprocess.run(
            [sys.executable, "-c", _KILL_CHILD, root, step, json.dumps(rows)],
            cwd=Path(__file__).resolve().parents[1],
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert proc.returncode == -signal.SIGKILL, proc.stderr[-2000:]
        new_ids = sorted(old_ids + [r[0] for r in rows])
        assert manifest.current_version(root) == (2 if committed else 1)
        assert self._ids(spark, root) == (new_ids if committed else old_ids)
        snap = manifest.write_table(
            self._tagged(h3_docs, "next", 2), root, "h3_07", mode="append"
        )
        assert snap["version"] == (3 if committed else 2)
        assert len(self._ids(spark, root)) == len(
            new_ids if committed else old_ids
        ) + 2
