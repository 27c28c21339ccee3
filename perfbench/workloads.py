"""The benchmark workloads: ``tile_join`` and ``table_maintenance``.

Each workload turns its seeded inputs into parquet files, hands the
program DataFrames read from them, and calls the program's public
functions with their defaults. One *iteration* is the unit ``wall_s``
times. Every step ends in an order-independent digest, which is also
the step's action; the reference checks in ``check`` compare the
warm-up iteration's outputs with independent computations on the
driver, and every later iteration must reproduce its digests.

Layers named in spans are the program's modules: ``dataframe``,
``functions``, ``datagen``, ``operators.<mod>``, ``sources.manifest``,
``plans.checkpoint``; ``spark`` is the action that materialises a step.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import inputs as gen
from observe import digest

EARTH_RADIUS_KM = 6371.007180918475  # authalic radius

SIZES = {
    "full": {
        "tile_join": {"points": 30_000, "polygons": 12, "radius_queries": 12},
        "table_maintenance": {"rows": 4_000, "upserts": 100, "appends": 100},
        "corpus_dedup": {"docs": 600, "vectors": 1_000, "dim": 32,
                         "bm25_queries": 8, "cos_queries": 6},
    },
    "tiny": {
        "tile_join": {"points": 4_000, "polygons": 6, "radius_queries": 6},
        "table_maintenance": {"rows": 300, "upserts": 20, "appends": 20},
        "corpus_dedup": {"docs": 200, "vectors": 200, "dim": 16,
                         "bm25_queries": 4, "cos_queries": 3},
    },
}

class Failure(Exception):
    """A reference check or digest mismatch."""


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def write_parquet(df: pd.DataFrame, path: Path, n_files: int = 1,
                  schema: pa.Schema | None = None) -> str:
    """Write `df` as `n_files` parquet files under directory `path`."""
    path.mkdir(parents=True, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        tbl = pa.Table.from_pandas(df.iloc[part], schema=schema, preserve_index=False)
        pq.write_table(tbl, path / f"part-{i:03d}.parquet")
    return str(path)


def polygons_frame(polys) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "poly_id": [pid for pid, _ in polys],
            "geometry": [
                [[{"lng": float(p[1]), "lat": float(p[0])} for p in ring] for ring in rings]
                for _, rings in polys
            ],
        }
    )


POLY_SCHEMA = pa.schema([
    ("poly_id", pa.string()),
    ("geometry", pa.list_(pa.list_(pa.struct([("lng", pa.float64()), ("lat", pa.float64())])))),
])


def haversine_np(lat1, lng1, lat2, lng2):
    r1, r2 = np.radians(lat1), np.radians(lat2)
    dlat = r2 - r1
    dlng = np.radians(lng2) - np.radians(lng1)
    a = np.sin(dlat / 2) ** 2 + np.cos(r1) * np.cos(r2) * np.sin(dlng / 2) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))


def check_topk(name: str, got: list[tuple[float, int]], ref: list[tuple[float, int]],
               k: int, tol: float, higher_better: bool = False) -> None:
    """Compare one query's top-k (score, id) lists. Ranks whose score is
    within `tol` of the k-th score may hold either tied id."""
    got = sorted(got, key=lambda t: (-t[0], t[1]) if higher_better else t)
    ref = sorted(ref, key=lambda t: (-t[0], t[1]) if higher_better else t)[:k]
    if len(got) != len(ref):
        raise Failure(f"{name}: {len(got)} results, reference has {len(ref)}")
    for (gs, _), (rs, _) in zip(got, ref):
        if abs(gs - rs) > tol:
            raise Failure(f"{name}: score {gs} where reference has {rs}")
    kth = ref[-1][0]
    sure_ref = {i for s, i in ref if abs(s - kth) > tol}
    sure_got = {i for s, i in got if abs(s - kth) > tol}
    if sure_ref != sure_got:
        raise Failure(f"{name}: ids differ: {sorted(sure_ref ^ sure_got)[:5]}")


class Workload:
    """Base class. ``ctx`` is the run context from run.py: ``spark``,
    ``tracer``, ``work`` (the run's directory), ``seed``, ``size`` and
    ``trace``."""

    name = ""
    cycle = 1  # timed iterations are counted in whole cycles of this many

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sz = SIZES[ctx.size][self.name]
        self.props: dict = {"size": ctx.size, **self.sz}
        self.digests: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.rows_per_iteration = 0
        self._frames: list = []
        # while `keep` is set (the untimed warm-up), each step's output
        # frame is kept in `kept` for the reference checks; later
        # iterations must reproduce its digests. Nothing is cached with
        # persist(): Spark would serve a cached frame to every later
        # iteration's identical plan, and the timed iterations would read
        # the cache instead of running the program
        self.keep = False
        self.kept: dict = {}
        # set by the runner for the timed, untraced iterations, whose
        # per-call latencies a workload may record
        self.recording = False

    # -- inputs --------------------------------------------------------
    def generate(self, rng: np.random.Generator) -> None:
        """Build the seeded inputs in memory (driver)."""
        raise NotImplementedError

    def materialise(self, rep: int) -> None:
        """Write the inputs to parquet and read + persist them."""
        raise NotImplementedError

    def read(self, path: str, persist: bool = True):
        df = self.spark.read.parquet(path)
        if persist:
            df = df.persist()
            df.count()
            self._frames.append(df)
        return df

    def release(self) -> None:
        for df in self._frames:
            df.unpersist()
        self._frames = []
        self.kept = {}

    # -- timed work ------------------------------------------------------
    def prepare(self) -> None:
        """Untimed per-run work before the first iteration."""

    def before(self, i: int) -> None:
        """Untimed work before iteration `i`."""

    def iteration(self, i: int) -> None:
        raise NotImplementedError

    def after(self, i: int) -> None:
        """Untimed work after iteration `i`."""

    def finish(self) -> None:
        """Per-run work after the last iteration."""

    def check(self) -> None:
        """Reference checks; raise Failure on a mismatch."""

    # -- steps -----------------------------------------------------------
    def call(self, name: str, layer: str, fn, *args, **kw):
        """One public call inside a span of its module's layer."""
        self.attempted += 1
        with self.ctx.tracer.span(f"{name}.call", layer, step=name):
            return fn(*args, **kw)

    def action(self, name: str, df, key: str | None = None) -> int:
        """Materialise `df` through its digest. The first digest of a
        key is recorded; a later different one is a mismatch."""
        self.attempted += 1
        key = key or name
        if self.keep:
            # the digest below fills the checkpoint, and the checks read it
            # back; unlike a cached frame it is never substituted into the
            # identical plans of later iterations
            df = self.kept[key] = df.localCheckpoint(eager=False)
        with self.ctx.tracer.span(f"{name}.action", "spark", step=name) as sp:
            n, d = digest(df)
            if sp is not None:
                sp.attrs["rows"] = n
        prev = self.digests.setdefault(key, d)
        if prev != d:
            self.fail(f"{key}: digest {d} differs from first iteration {prev}")
        return n

    def hold(self, key: str, df) -> None:
        """Keep an intermediate frame for the reference checks while
        `keep` is set; the checks compute it again."""
        if self.keep:
            self.kept[key] = df

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)


# ---------------------------------------------------------------------------
# tile_join
# ---------------------------------------------------------------------------


class TileJoin(Workload):
    """The compute path on one set of seeded skewed points. Tiling:
    res-8 encode on the hex lane and on the int64 lane into per-cell
    counts and res-4 rollups, and polyfill + compact of the polygons at
    res 6. Joins: PIP against rectangles, concave stars and holed
    polygons, kNN at |Q| = 20 and a radius join. The traced run adds kNN
    at |Q| = 64 (the two |Q| fall on the two sides of
    ``nested_loop_queries=32``) and the corpus steps (see
    ``CorpusDedup``)."""

    name = "tile_join"
    K = 10
    KNN_RES = 5
    Q64_SPARSE = 8

    def generate(self, rng):
        # seeded properties vary inside narrow ranges, so that each seed
        # asks for about the same amount of work
        self.props["hub_share"] = float(rng.uniform(0.65, 0.7))
        self.props["query_hub_share"] = float(rng.uniform(0.45, 0.55))
        self.props["radius_km"] = float(rng.uniform(20.0, 25.0))
        self.props.update(knn_k=self.K, knn_resolution=self.KNN_RES,
                          q64_sparse=self.Q64_SPARSE)
        self.points = gen.skewed_points(rng, self.sz["points"], self.props["hub_share"])
        self.polys = gen.polygons(rng, self.sz["polygons"])
        qs = self.props["query_hub_share"]
        self.q20 = gen.query_points(rng, 20, qs)
        # a fixed count of sparse-region queries, so that every seed
        # leaves certificate stragglers and takes the same straggler path
        self.q64 = gen.query_points(rng, 64, 1 - self.Q64_SPARSE / 64, start_id=1000)
        self.rq = gen.query_points(rng, self.sz["radius_queries"], qs, start_id=5000)
        # points pass through 2 encode lanes, PIP, kNN and the radius join
        self.rows_per_iteration = 5 * len(self.points)

    def materialise(self, rep):
        d = self.ctx.work / f"in{rep}"
        self.pts = self.read(write_parquet(self.points, d / "points", 4))
        self.poly_df = self.read(
            write_parquet(polygons_frame(self.polys), d / "polygons", schema=POLY_SCHEMA)
        )
        sets = pd.concat([q.assign(qset=k) for k, q in enumerate((self.q20, self.q64, self.rq))])
        qs = self.read(write_parquet(sets, d / "queries"))
        self.q20_df, self.q64_df, self.rq_df = (
            qs.filter(qs.qset == k).drop("qset") for k in range(3))

    def iteration(self, i):
        from pyspark.sql import functions as F

        from sparkh3 import dataframe as dfo
        from sparkh3 import functions as H3F
        from sparkh3.operators import joins, skew

        cells = self.call("dataframe.geo_to_h3", "dataframe", dfo.geo_to_h3, self.pts, 8)
        agg = self.call(
            "skew.salted_cell_count.hex", "operators.skew", skew.salted_cell_count,
            cells.select("h3_08", "value"), "h3_08", value_col="value",
        )
        self.hold("skew.salted_cell_count.hex", agg)
        roll = self.call(
            "dataframe.h3_to_parent_aggregate", "dataframe", dfo.h3_to_parent_aggregate,
            agg, 4, operation="sum", h3_col="h3_08",
        )
        self.action("dataframe.h3_to_parent_aggregate", roll)

        enc = self.call(
            "functions.latlng_to_cell_long_udf", "functions", H3F.latlng_to_cell_long_udf, 8
        )
        agg_l = self.call(
            "skew.salted_cell_count.int64", "operators.skew", skew.salted_cell_count,
            self.pts.select(enc(F.col("lat"), F.col("lng")).alias("c8"), "value"),
            "c8", value_col="value",
        )
        self.hold("skew.salted_cell_count.int64", agg_l)
        c4 = self.call("functions.h3_parent_int", "functions", H3F.h3_parent_int, F.col("c8"), 4)
        roll_l = agg_l.groupBy(c4.alias("c4")).agg(
            F.sum("n").alias("n"), F.sum("sum_value").alias("sum_value")
        )
        self.action("functions.h3_parent_int", roll_l)

        tiles = self.call("dataframe.polyfill", "dataframe", dfo.polyfill, self.poly_df, 6)
        packed = self.call(
            "dataframe.h3_compact", "dataframe", dfo.h3_compact,
            tiles.select("poly_id", "h3_polyfill"), "h3_polyfill",
        )
        self.action("dataframe.h3_compact", packed)

        pip = self.call("joins.pip_join", "operators.joins", joins.pip_join,
                        self.pts, self.poly_df)
        self.action("joins.pip_join", pip)
        k20 = self.call("joins.knn_join.q20", "operators.joins", joins.knn_join,
                        self.q20_df, self.pts, self.K, self.KNN_RES)
        self.action("joins.knn_join.q20", k20)
        rad = self.call("joins.radius_join", "operators.joins", joins.radius_join,
                        self.rq_df, self.pts, self.props["radius_km"])
        self.action("joins.radius_join", rad)

    def knn_q64(self):
        from sparkh3.operators import joins

        k64 = self.call("joins.knn_join.q64", "operators.joins", joins.knn_join,
                        self.q64_df, self.pts, self.K, self.KNN_RES)
        self.action("joins.knn_join.q64", k64)

    def finish(self):
        """In the traced run only: kNN at |Q| = 64 and the corpus steps,
        each once untraced to warm up and once traced. The certificate
        side of kNN plans on the driver for about 2.5 s a call, and in
        the timed loop it would stretch every run past what a full set
        of benchmark runs can afford on a 4-core host."""
        self.corpus = None
        if not self.ctx.trace:
            return
        tracer = self.ctx.tracer
        tracer.enabled = False
        self.keep = True
        self.knn_q64()
        self.keep = False
        tracer.enabled = True
        with tracer.span("knn_q64", "bench"):
            self.knn_q64()
        c = CorpusDedup(self.ctx)
        c.generate(np.random.default_rng(self.ctx.seed))
        c.materialise("corpus")
        tracer.enabled = False
        c.keep = True
        c.iteration(0)
        c.keep = False
        tracer.enabled = True
        with tracer.span("corpus", "bench"):
            c.iteration(1)
        self.corpus = c

    def check(self):
        c = self.corpus
        if c is not None:
            try:
                c.check()
            except Failure as e:
                c.fail(str(e))
            c.release()
            self.attempted += c.attempted
            self.failed += c.failed
            self.errors += c.errors
            self.digests.update(c.digests)
            self.props["corpus"] = c.props
        for part in (self._check_tiles, self._check_joins):
            try:
                part()
            except Failure as e:
                self.fail(str(e))

    def _check_tiles(self):
        from sparkh3.kernel import geo, index, polygon

        lat = self.points["lat"].to_numpy()
        lng = self.points["lng"].to_numpy()
        val = self.points["value"].to_numpy()
        c8 = geo.latlng_to_cell(lat, lng, 8).astype(np.uint64)
        ref8 = pd.DataFrame({"c": c8, "v": val}).groupby("c")["v"].agg(["size", "sum"])
        ref4 = (
            pd.DataFrame({"c": index.cell_to_parent(c8, 4).astype(np.uint64), "v": val})
            .groupby("c")["v"].agg(["size", "sum"])
        )

        def same(name, keys, g: pd.DataFrame, ref: pd.DataFrame):
            got = pd.DataFrame({"n": g["n"].to_numpy(), "s": g["sum_value"].to_numpy()},
                               index=keys).sort_index()
            if not (np.array_equal(got.index.to_numpy(np.uint64), ref.index.to_numpy(np.uint64))
                    and np.array_equal(got["n"].to_numpy(), ref["size"].to_numpy())
                    and np.array_equal(got["s"].to_numpy(), ref["sum"].to_numpy())):
                raise Failure(f"{name}: per-cell counts differ from the kernel reference")

        def as_u64(col):
            return col.to_numpy().astype(np.int64).view(np.uint64)

        def hex_u64(col):
            return index.str_to_int(col.to_numpy(object))

        L = self.kept
        g = L["skew.salted_cell_count.int64"].toPandas()
        same("int64 res-8 counts", as_u64(g["c8"]), g, ref8)
        g = L["skew.salted_cell_count.hex"].toPandas()
        same("hex res-8 counts", hex_u64(g["h3_08"]), g, ref8)
        g = L["functions.h3_parent_int"].toPandas()
        same("int64 res-4 rollup", as_u64(g["c4"]), g, ref4)
        g = L["dataframe.h3_to_parent_aggregate"].select("h3_04", "n", "sum_value").toPandas()
        same("hex res-4 rollup", hex_u64(g["h3_04"]), g, ref4)
        got = {r["poly_id"]: r["h3_polyfill"] for r in L["dataframe.h3_compact"].collect()}
        for pid, rings in self.polys:
            ref = np.sort(index.compact_cells(polygon.polygon_to_cells(rings, 6)))
            cells = got.get(pid) or []
            mine = np.sort(index.str_to_int(np.array(cells, dtype=object))) if cells \
                else np.array([], dtype=np.uint64)
            if not np.array_equal(ref.astype(np.uint64), mine.astype(np.uint64)):
                raise Failure(f"polyfill+compact {pid}: {len(mine)} cells, reference {len(ref)}")

    def _check_joins(self):
        from pyspark.sql import functions as F

        from sparkh3.kernel import polygon

        rng = np.random.default_rng(self.ctx.seed + 7)
        lat = self.points["lat"].to_numpy()
        lng = self.points["lng"].to_numpy()
        pid = self.points["point_id"].to_numpy()
        # PIP on a seeded sample of points
        sample = rng.choice(len(pid), min(3000, len(pid)), replace=False)
        ref = set()
        for poly_id, rings in self.polys:
            inside = polygon.points_in_rings(lat[sample], lng[sample], rings)
            ref.update((int(p), poly_id) for p in pid[sample][inside])
        ids = self.spark.createDataFrame(pd.DataFrame({"point_id": pid[sample]}))
        got = {
            (int(r["point_id"]), r["poly_id"])
            for r in self.kept["joins.pip_join"].join(F.broadcast(ids), "point_id", "semi")
            .select("point_id", "poly_id").collect()
        }
        if got != ref:
            raise Failure(f"pip_join: {len(got ^ ref)} (point, polygon) pairs differ "
                          "from kernel.polygon.points_in_rings")
        # kNN and radius against driver brute-force haversine
        for key, q in (("joins.knn_join.q20", self.q20), ("joins.knn_join.q64", self.q64)):
            if key not in self.kept:
                continue  # q64 runs in the traced run only
            by_q: dict[int, list] = {}
            for r in self.kept[key].collect():
                by_q.setdefault(int(r["query_id"]), []).append(
                    (float(r["dist_km"]), int(r["point_id"])))
            for j in rng.choice(len(q), min(12, len(q)), replace=False):
                qid = int(q["query_id"].iloc[j])
                d = haversine_np(q["lat"].iloc[j], q["lng"].iloc[j], lat, lng)
                top = np.argsort(d, kind="stable")[: self.K + 5]
                check_topk(f"knn_join {key} query {qid}", by_q.get(qid, []),
                           [(float(d[t]), int(pid[t])) for t in top], self.K, 1e-5)
        radius = self.props["radius_km"]
        got_r = {(int(r["query_id"]), int(r["point_id"]))
                 for r in self.kept["joins.radius_join"].collect()}
        for j in range(len(self.rq)):
            qid = int(self.rq["query_id"].iloc[j])
            d = haversine_np(self.rq["lat"].iloc[j], self.rq["lng"].iloc[j], lat, lng)
            sure_in = {(qid, int(p)) for p in pid[d <= radius - 1e-5]}
            maybe = {(qid, int(p)) for p in pid[np.abs(d - radius) <= 1e-5]}
            mine = {t for t in got_r if t[0] == qid}
            if not (sure_in <= mine <= sure_in | maybe):
                raise Failure(f"radius_join query {qid}: {len(mine)} pairs, "
                              f"reference {len(sure_in)}")

    def kernel_inputs(self):
        return self.points, self.polys


# ---------------------------------------------------------------------------
# table_maintenance
# ---------------------------------------------------------------------------


class TableMaintenance(Workload):
    """Writes beside reads on one manifest table: the first
    ``write_table``, then timed rounds of upsert, append, pruned read and
    full read. Every round starts from the same table: before it, outside
    the timer, the table directory is restored from a copy taken after
    the first write, so each round of a mode repeats the same work and
    the number of rounds does not change what a round costs. After the
    last round the traced run adds the phases that ``wall_s`` does not
    time: a checkpointed tiling ingest of the base rows (run, then the
    same call as a resume) written to a second table, then delete,
    changes, compact and expire on the first."""

    name = "table_maintenance"
    cycle = 2  # timed rounds come in clustered/uniform pairs
    MODES = ("clustered", "uniform")
    COLS = ["id", "lat", "lng", "value", "h3_08"]

    def generate(self, rng):
        self.rng = rng
        self.props["hub_share"] = float(rng.uniform(0.95, 0.96))
        self.props["insert_share"] = float(rng.uniform(0.1, 0.15))
        # rounds alternate between upsert keys clustered in two hub cells
        # and uniform keys; the seed picks which comes first
        self.first_mode = int(rng.integers(0, 2))
        base = gen.skewed_points(rng, self.sz["rows"], self.props["hub_share"])
        self.base = base.rename(columns={"point_id": "id"})
        self.base["h3_08"] = self._h3(self.base)
        self.next_id = len(self.base)
        self.rows_per_iteration = self.sz["upserts"] + self.sz["appends"]
        # one feed per mode, replayed by every round of that mode
        self.feeds = {mode: self._feed(mode) for mode in self.MODES}

    def _feed(self, mode: str) -> dict:
        from sparkh3.kernel import geo, index

        r = self.rng
        live = self.base.set_index("id", drop=False).rename_axis(None)
        n_up = self.sz["upserts"]
        n_ins = int(round(n_up * self.props["insert_share"]))
        pool = live.index.to_numpy()
        hub_cells = index.int_to_str(geo.latlng_to_cell(gen.HUBS[:, 0], gen.HUBS[:, 1], 3))
        if mode == "clustered":
            chosen = list(r.choice(hub_cells, 2, replace=False))
            parent3 = index.int_to_str(index.cell_to_parent(
                index.str_to_int(live["h3_08"].to_numpy(object)), 3))
            near = pool[np.isin(parent3, chosen)]
            if len(near) >= n_up - n_ins:
                pool = near
        keys = r.choice(pool, n_up - n_ins, replace=False)
        upd = live.loc[keys, ["id", "lat", "lng", "value"]].copy()
        upd["value"] = r.integers(1000, 2000, len(upd)).astype(np.int64)
        upd = pd.concat([upd, self._new_rows(n_ins)], ignore_index=True)
        app = self._new_rows(self.sz["appends"])
        # the feeds arrive with their cell ids, as a table's change feed
        # would: the rounds exercise the manifest, not the encode
        upd["h3_08"] = self._h3(upd)
        app["h3_08"] = self._h3(app)
        model = pd.concat([live.drop(index=upd["id"], errors="ignore"),
                           upd.set_index("id", drop=False).rename_axis(None),
                           app.set_index("id", drop=False).rename_axis(None)])
        # the pruned read asks for the res-5 cell of a row in a hub
        c8 = index.str_to_int(model["h3_08"].to_numpy(object))
        p5 = index.int_to_str(index.cell_to_parent(c8, 5))
        in_hub = np.isin(index.int_to_str(index.cell_to_parent(c8, 3)), hub_cells)
        cell = p5[r.choice(np.flatnonzero(in_hub))]
        return {"upd": upd[self.COLS], "app": app[self.COLS], "model": model[self.COLS],
                "cell": cell, "pruned_rows": int((p5 == cell).sum())}

    def materialise(self, rep):
        d = self.ctx.work / f"in{rep}"
        self.base_path = write_parquet(self.base[["id", "lat", "lng", "value"]], d / "base", 4)
        self.base_df = self.read(self.base_path)

    def _h3(self, df: pd.DataFrame) -> np.ndarray:
        from sparkh3.kernel import geo, index

        return index.int_to_str(geo.latlng_to_cell(df["lat"].to_numpy(), df["lng"].to_numpy(), 8))

    def _new_rows(self, n: int) -> pd.DataFrame:
        pts = gen.skewed_points(self.rng, n, self.props["hub_share"])
        pts = pts.rename(columns={"point_id": "id"})
        pts["id"] = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return pts

    def prepare(self):
        from sparkh3 import dataframe as dfo
        from sparkh3.sources import manifest

        self.root = Path(self.ctx.work / "table")
        self.snapshot_dir = self.ctx.work / "table_after_write"
        tiled = dfo.geo_to_h3(self.base_df, 8)
        self.call("manifest.write_table", "sources.manifest", manifest.write_table,
                  tiled.select(*self.COLS), str(self.root), "h3_08")
        shutil.copytree(self.root, self.snapshot_dir)
        self.base_files = self._files()
        for mode, f in self.feeds.items():
            d = self.ctx.work / f"feed_{mode}"
            f["upd_df"] = self.read(write_parquet(f["upd"], d / "upd"), persist=False)
            f["app_df"] = self.read(write_parquet(f["app"], d / "app"), persist=False)
        self.model = self.base[self.COLS].set_index("id", drop=False).rename_axis(None)
        # per-round accounting, filled outside the timer
        self.ops: dict[str, list[float]] = {}
        self.rounds: list[dict] = []
        self.checked_modes: set[str] = set()

    def _files(self) -> dict[str, int]:
        return {str(p): p.stat().st_size for p in self.root.rglob("*.parquet")}

    def _timed(self, op: str, name: str, fn, *args, **kw):
        t0 = time.perf_counter()
        out = self.call(name, "sources.manifest", fn, *args, **kw)
        if self.recording:
            self.ops.setdefault(op, []).append(time.perf_counter() - t0)
        return out

    def _mode(self, i: int) -> str:
        return self.MODES[(i + self.first_mode) % 2]

    def before(self, i):
        """Restore the table as the first write left it."""
        shutil.rmtree(self.root)
        shutil.copytree(self.snapshot_dir, self.root)

    def iteration(self, i):
        from sparkh3.sources import manifest

        mode = self._mode(i)
        f = self.feeds[mode]
        root = str(self.root)
        self._timed("commit", "manifest.merge_table", manifest.merge_table,
                    self.spark, root, f["upd_df"], "id")
        self._timed("commit", "manifest.append", manifest.write_table,
                    f["app_df"], root, "h3_08", mode="append")
        t0 = time.perf_counter()
        pr = self.call("manifest.read_table.pruned", "sources.manifest", manifest.read_table,
                       self.spark, root, cells=[f["cell"]])
        self.n_pruned = self.action("manifest.read_table.pruned", pr.select(*self.COLS),
                                    key=f"pruned.{mode}")
        if self.recording:
            self.ops.setdefault("point_read", []).append(time.perf_counter() - t0)
        full = self.call("manifest.read_table.full", "sources.manifest", manifest.read_table,
                         self.spark, root)
        self.n_full = self.action("manifest.read_table.full", full.select(*self.COLS),
                                  key=f"full.{mode}")

    def after(self, i):
        """Accounting and model checks of round `i`, outside the timer."""
        from sparkh3.sources import manifest

        mode = self._mode(i)
        f = self.feeds[mode]
        self.model = f["model"]
        if self.n_pruned != f["pruned_rows"]:
            self.fail(f"round {i}: pruned read returned {self.n_pruned} rows, "
                      f"model has {f['pruned_rows']}")
        if self.n_full != len(f["model"]):
            self.fail(f"round {i}: full read returned {self.n_full} rows, "
                      f"model has {len(f['model'])}")
        if mode not in self.checked_modes:
            # the first round of each mode: whole table against the model;
            # later rounds of the mode must reproduce its digests
            self.checked_modes.add(mode)
            got = manifest.read_table(self.spark, str(self.root)).select(*self.COLS).toPandas()
            try:
                self._same_table(f"after a {mode} round", got, f["model"])
            except Failure as e:
                self.fail(str(e))
        new = {p: s for p, s in self._files().items() if p not in self.base_files}
        kept, total = manifest.pruned_file_count(str(self.root), cells=[f["cell"]])
        self.rounds.append({"mode": mode, "files_kept": kept, "files_total": total,
                            "files_written": len(new), "bytes_written": sum(new.values()),
                            "rows_changed": len(f["upd"]) + len(f["app"])})

    def finish(self):
        from sparkh3.sources import manifest

        if self.ctx.trace:
            self._ingest()
            self._maintenance()
        root = str(self.root)
        self.final = manifest.read_table(self.spark, root).select(*self.COLS).toPandas()
        snap = manifest.load_snapshot(root)
        self.files_live = len(snap["files"])
        self.table_bytes = sum(p.stat().st_size for p in self.root.rglob("*") if p.is_file())

    def _ingest(self):
        """The checkpointed tiling ingest, the same call again as a
        resume, and the first write of its output to a second table."""
        from sparkh3 import dataframe as dfo
        from sparkh3.plans import checkpoint
        from sparkh3.sources import manifest

        ckpt = str(self.ctx.work / "ckpt")

        def encode(df):
            return dfo.geo_to_h3(df, 8)

        tiled = self.call("checkpoint.run_stage", "plans.checkpoint", checkpoint.run_stage,
                          self.base_df, "tile", encode, ckpt, "id")
        before = {m["shard"]: m["ts"] for m in checkpoint.stage_metrics(ckpt, "tile")}
        tiled = self.call("checkpoint.run_stage.resume", "plans.checkpoint",
                          checkpoint.run_stage, self.base_df, "tile", encode, ckpt, "id")
        after = {m["shard"]: m["ts"] for m in checkpoint.stage_metrics(ckpt, "tile")}
        self.shards_skipped_frac = (sum(before[k] == after.get(k) for k in before)
                                    / max(1, len(before)))
        self.action("checkpoint.run_stage", tiled.select(*self.COLS))
        self.call("manifest.write_table", "sources.manifest", manifest.write_table,
                  tiled.select(*self.COLS), str(self.ctx.work / "table_ingest"), "h3_08")

    def _maintenance(self):
        """Delete, changes since before the delete, compact, expire."""
        from sparkh3.sources import manifest

        root = str(self.root)
        threshold = int(self.rng.integers(50, 250))
        self.props["delete_predicate"] = f"value < {threshold}"
        v_before = manifest.load_snapshot(root)["version"]
        snap = self.call("manifest.delete_table", "sources.manifest", manifest.delete_table,
                         self.spark, root, f"value < {threshold}")
        deleted = self.model[self.model["value"] < threshold]
        self.model = self.model[self.model["value"] >= threshold]
        ch = self.call("manifest.table_changes", "sources.manifest", manifest.table_changes,
                       self.spark, root, v_before, snap["version"], "id")
        self.attempted += 1
        with self.ctx.tracer.span("manifest.table_changes.action", "spark"):
            self.changes = ch.select("id", "_change_type").collect()
        kinds = {r["_change_type"] for r in self.changes}
        if len(self.changes) != len(deleted) or (self.changes and kinds != {"delete"}) \
                or {int(r["id"]) for r in self.changes} != set(int(x) for x in deleted["id"]):
            self.fail(f"table_changes: {len(self.changes)} changes, model deleted {len(deleted)}")
        self.call("manifest.compact_table", "sources.manifest", manifest.compact_table,
                  self.spark, root)
        self.call("manifest.expire_snapshots", "sources.manifest",
                  manifest.expire_snapshots, root)

    def _same_table(self, what: str, got: pd.DataFrame, model: pd.DataFrame) -> None:
        got = got.sort_values("id").reset_index(drop=True)
        ref = model[self.COLS].sort_values("id").reset_index(drop=True)
        if len(got) != len(ref):
            raise Failure(f"table {what} has {len(got)} rows, pandas model {len(ref)}")
        for c in self.COLS:
            a, b = got[c].to_numpy(), ref[c].to_numpy()
            ok = np.allclose(a.astype(float), b.astype(float), rtol=0, atol=1e-12) \
                if c in ("lat", "lng") else np.array_equal(a.astype(object), b.astype(object))
            if not ok:
                raise Failure(f"table {what}: column {c} differs from the pandas model")

    def check(self):
        self._same_table("at the end", self.final, self.model)

    def layer_metrics(self) -> dict:
        rounds = self.rounds
        fk = [r["files_kept"] / r["files_total"] for r in rounds if r["files_total"]]
        written = sum(r["bytes_written"] for r in rounds)
        user_bytes = sum(r["rows_changed"] for r in rounds) * self._row_bytes()
        return {
            "manifest.commit_p50_s": float(np.median(self.ops["commit"])),
            "manifest.point_read_p50_s": float(np.median(self.ops["point_read"])),
            "manifest.storage_bytes_per_row": self.table_bytes / max(1, len(self.model)),
            "manifest.files_live": self.files_live,
            "manifest.files_written": float(np.median([r["files_written"] for r in rounds])),
            "manifest.bytes_written": float(np.median([r["bytes_written"] for r in rounds])),
            "manifest.write_amp": written / max(1.0, user_bytes),
            "manifest.files_kept_frac": float(np.median(fk)) if fk else 0.0,
            "checkpoint.shards_skipped_frac": self.shards_skipped_frac,
        }

    def _row_bytes(self) -> float:
        files = list(Path(self.base_path).glob("*.parquet"))
        return sum(f.stat().st_size for f in files) / max(1, len(self.base))

    def kernel_inputs(self):
        return self.base.rename(columns={"id": "point_id"}), gen.polygons(
            np.random.default_rng(self.ctx.seed), 12)


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class CorpusDedup(Workload):
    """Interleaved documents and geometry spans, MinHash LSH dedup into
    connected components, BM25 top-k and exact cosine top-k. Not a
    workload of its own: ``TileJoin`` runs it in its traced run."""

    name = "corpus_dedup"

    def generate(self, rng):
        sz = self.sz
        self.props["dup_share"] = float(rng.uniform(0.15, 0.2))
        self.docs = gen.documents(rng, sz["docs"], self.props["dup_share"])
        self.emb = gen.embeddings(rng, sz["vectors"], sz["dim"], 12)
        cq = gen.embeddings(rng, sz["cos_queries"], sz["dim"], 12)
        self.cq = pd.DataFrame({"query_id": np.arange(10**6, 10**6 + len(cq), dtype=np.int64),
                                "embedding": cq["embedding"]})
        terms = []
        for q in range(sz["bm25_queries"]):
            for w in rng.choice(len(gen.VOCAB), int(rng.integers(1, 4)), replace=False):
                terms.append((q, gen.VOCAB[int(w)]))
        self.bq = pd.DataFrame(terms, columns=["query_id", "term"])
        self.bq["query_id"] = self.bq["query_id"].astype(np.int64)

    def materialise(self, rep):
        d = self.ctx.work / f"in{rep}"
        write_parquet(self.docs, d / "corpus" / "documents.parquet", 4)
        self.corpus_dir = str(d / "corpus")
        self.docs_df = self.read(str(d / "corpus" / "documents.parquet"))
        vec_schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                                ("label", pa.int32())])
        self.emb_df = self.read(write_parquet(self.emb, d / "emb", 4, schema=vec_schema))
        q_schema = pa.schema([("query_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])
        self.cq_df = self.read(write_parquet(self.cq, d / "cq", schema=q_schema))
        self.bq_df = self.read(write_parquet(self.bq, d / "bq"))

    def iteration(self, i):
        from sparkh3 import datagen
        from sparkh3.operators import graph, similarity, spans, textops

        inter = self.call("datagen.interleaved_documents", "datagen",
                          datagen.interleaved_documents, self.spark, self.corpus_dir)
        geo = self.call("spans.extract_geometry", "operators.spans", spans.extract_geometry, inter)
        self.action("spans.extract_geometry", geo)
        pairs = self.call("textops.minhash_lsh_dedup", "operators.textops",
                          textops.minhash_lsh_dedup, self.docs_df).persist()
        self.action("textops.minhash_lsh_dedup", pairs)
        cc = self.call("graph.connected_components", "operators.graph",
                       graph.connected_components, pairs, "id_a", "id_b")
        self.action("graph.connected_components", cc)
        bm = self.call("textops.bm25_topk", "operators.textops", textops.bm25_topk,
                       self.docs_df, self.bq_df)
        self.action("textops.bm25_topk", bm)
        cos = self.call("similarity.cosine_topk", "operators.similarity",
                        similarity.cosine_topk, self.emb_df, self.cq_df, 10)
        self.action("similarity.cosine_topk", cos)
        # a cached frame would serve the next iteration's identical plan
        pairs.unpersist()

    def check(self):
        pairs = [(int(r["id_a"]), int(r["id_b"]))
                 for r in self.kept["textops.minhash_lsh_dedup"].collect()]
        self.props["dedup_pairs"] = len(pairs)
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        ref = {x: find(x) for x in list(parent)}
        got = {int(r[0]): int(r[1]) for r in self.kept["graph.connected_components"].collect()}
        if got != ref:
            raise Failure(f"connected_components: {len(set(got.items()) ^ set(ref.items()))} "
                          "(node, cluster) rows differ from a driver union-find")
        if not pairs and self.props["dup_share"] > 0:
            raise Failure("minhash_lsh_dedup found no pairs although near-duplicates were injected")
        # exact cosine top-k against NumPy
        corpus = np.stack(self.emb["embedding"].to_numpy()).astype(np.float64)
        cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
        rows = self.kept["similarity.cosine_topk"].collect()
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(int(r["query_id"]), []).append((float(r["sim"]), int(r["vec_id"])))
        for j in range(len(self.cq)):
            qv = np.asarray(self.cq["embedding"].iloc[j], dtype=np.float64)
            sims = cn @ (qv / np.linalg.norm(qv))
            top = np.argsort(-sims, kind="stable")[:15]
            qid = int(self.cq["query_id"].iloc[j])
            check_topk(f"cosine_topk query {qid}", by_q.get(qid, []),
                       [(float(sims[t]), int(self.emb["vec_id"].iloc[t])) for t in top],
                       10, 2e-6, higher_better=True)


WORKLOADS = {w.name: w for w in (TileJoin, TableMaintenance)}
