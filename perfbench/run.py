"""sparkh3 benchmark: one seeded workload on local[4], closed loop with
one client (the Spark driver issues one operator call at a time).

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 10 --trace 0

Run from the repository root. The run
  1. starts a local[4] session,
  2. generates the workload's inputs from --seed and materialises them
     SETUP_REPS times (the median counts),
  3. runs one warm-up iteration, which starts the Python workers, lets
     the JIT settle and keeps its outputs for the reference checks,
  4. repeats the workload's iteration for --seconds, in whole cycles
     and at least two cycles; each must reproduce the first digest of
     its step,
  5. checks the warm-up's outputs against independent references,
  6. prints a detail line and, as the last line, the result object.

``setup_s`` is the sum of steps 1-3: session start, input generation
and materialisation, and the warm-up iteration.

Work a workload does before and after each iteration (restoring a
table, checking counts against a model) is not timed.

With --trace 0 the result holds the end-to-end metrics of
BENCHMARK.json; with --trace 1 it holds the per-layer metrics, taken
from the traced iterations (every other cycle of the workload's
rounds) and from Spark's status stores, and the detail line also holds
every span and each layer's share of a traced iteration. Any failed
call or mismatch makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MASTER = "local[4]"  # fixed, not read from the host
DRIVER_MEMORY = "1g"
SETUP_REPS = 3
MIN_ITERATIONS = 2


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the self-test")
    p.add_argument("--expect-digest", action="append", default=[], metavar="STEP=DIGEST",
                   help="fail unless STEP's output digest equals DIGEST")
    return p.parse_args(argv)


def load_spec() -> dict:
    spec_file = ROOT / "BENCHMARK.json"
    return json.loads(spec_file.read_text())


def check_layout() -> None:
    """The program must sit beside the benchmark; without it nothing can
    be measured, and the run fails before starting Spark."""
    if not (ROOT / "sparkh3" / "__init__.py").is_file():
        sys.stderr.write(f"perfbench: no sparkh3 package under {ROOT}\n")
        sys.exit(2)


def start_session(work: Path):
    from pyspark.sql import SparkSession

    for d in ("spark-local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # Python workers import sparkh3 from the checkout, wherever the
    # command is started from; temp files stay inside the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM started from here (the launcher and the driver) keeps its
    # temp files in the work dir and writes no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [f"-Djava.io.tmpdir={work / 'tmp'}", "-XX:-UsePerfData",
         os.environ.get("JAVA_TOOL_OPTIONS", "")]).strip()
    spark = (
        SparkSession.builder.master(MASTER)
        .appName("sparkh3-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # the whole heap is committed and touched at start, so that
        # peak_rss_mb does not swing with when the JVM chose to grow it
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the repository's own bench.py sizing for this core count
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        # keep every job, stage and SQL execution of the run readable
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM gateway process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure: make sure it is gone
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# per-layer metrics of a traced run
# ---------------------------------------------------------------------------


def layer_metrics(tracer, reader, iter_spans, w) -> dict:
    from observe import self_times, union_len

    spans = tracer.spans
    by_id = {s.sid: s for s in spans}

    def root_of(s):
        while s.parent:
            s = by_id[s.parent]
        return s

    traced_roots = {s.sid for s in iter_spans}
    n_it = max(1, len(iter_spans))
    out: dict[str, float] = {}

    # call / action time per step (median over occurrences)
    durs: dict[str, list[float]] = {}
    for s in spans:
        durs.setdefault(s.name, []).append(s.end - s.start)
    for name, vals in durs.items():
        if name.endswith(".call") or name.endswith(".action"):
            out[name + "_s"] = statistics.median(vals)

    def med(name):
        return statistics.median(durs[name]) if name in durs else 0.0

    for op in ("write_table", "merge_table", "append", "delete_table", "compact_table",
               "expire_snapshots"):
        out[f"manifest.{op}.s"] = med(f"manifest.{op}.call")
    out["manifest.table_changes.s"] = med("manifest.table_changes.call") + med(
        "manifest.table_changes.action")
    for kind in ("pruned", "full"):
        out[f"manifest.read_table.{kind}_s"] = med(f"manifest.read_table.{kind}.call") + med(
            f"manifest.read_table.{kind}.action")
    out["checkpoint.run_stage.s"] = med("checkpoint.run_stage.call")
    out["checkpoint.resume_s"] = med("checkpoint.run_stage.resume.call")

    # self time per layer over the traced iterations
    st = self_times(spans)
    for s in spans:
        if root_of(s).sid in traced_roots:
            key = f"self.{s.layer}_s"
            out[key] = out.get(key, 0.0) + st[s.sid] / n_it

    # Spark engine, attributed through job groups
    jobs = reader.jobs()
    jobs_of: dict[str, list] = {}
    for j in jobs:
        if j.group in by_id:
            jobs_of.setdefault(root_of(by_id[j.group]).sid, []).append(j)
    tot = dict.fromkeys(("jobs", "stages", "tasks", "run_s", "cpu_s", "input_bytes",
                         "shuffle_read_bytes", "shuffle_write_bytes", "result_bytes"), 0.0)
    gaps = []
    traced_jobs = set()
    for root in iter_spans:
        js = jobs_of.get(root.sid, [])
        traced_jobs.update(j.job_id for j in js)
        tot["jobs"] += len(js)
        for sid in {sid for j in js for sid in j.stage_ids}:
            sd = reader.stage(sid)
            if sd is None:
                continue
            tot["stages"] += 1
            for k in ("tasks", "run_s", "cpu_s", "input_bytes", "shuffle_read_bytes",
                      "shuffle_write_bytes", "result_bytes"):
                tot[k] += sd[k]
        gaps.append((root.end - root.start)
                    - union_len([(j.start, j.end) for j in js], root.start, root.end))
    out.update({
        "spark.jobs": tot["jobs"] / n_it,
        "spark.stages": tot["stages"] / n_it,
        "spark.tasks": tot["tasks"] / n_it,
        "shuffle.write_bytes": tot["shuffle_write_bytes"] / n_it,
        "shuffle.read_bytes": tot["shuffle_read_bytes"] / n_it,
        "scan.input_bytes": tot["input_bytes"] / n_it,
        "executor.run_s": tot["run_s"] / n_it,
        "executor.cpu_s": tot["cpu_s"] / n_it,
        "driver.result_bytes": tot["result_bytes"] / n_it,
        "driver.gap_s": statistics.median(gaps) if gaps else 0.0,
    })

    # Python boundary from the SQL metrics of the Python plan nodes
    b = dict.fromkeys(("python_s", "to_python", "from_python", "nodes"), 0.0)
    for e in reader.python_nodes():
        if e["job_ids"] and set(e["job_ids"]) <= traced_jobs:
            for k in b:
                b[k] += e[k]
    out.update({
        "boundary.python_s": b["python_s"] / n_it,
        "boundary.bytes_to_python": b["to_python"] / n_it,
        "boundary.bytes_from_python": b["from_python"] / n_it,
        "boundary.udf_nodes": b["nodes"] / n_it,
    })

    # rows the pruned reads scanned per row they returned
    scanned = returned = 0
    for s in spans:
        if s.name == "manifest.read_table.pruned.action":
            js = [j for j in jobs if j.group == s.sid]
            for sid in {x for j in js for x in j.stage_ids}:
                sd = reader.stage(sid)
                scanned += sd["input_records"] if sd else 0
            returned += s.attrs.get("rows", 0)
    if returned:
        out["manifest.rows_scanned_per_row_returned"] = scanned / returned
    if hasattr(w, "layer_metrics"):
        out.update(w.layer_metrics())
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    check_layout()
    spec = load_spec()
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import numpy as np

    import kernelbench
    from observe import RssSampler, StatusReader, Tracer, host_record, summary
    from workloads import WORKLOADS, Failure

    if args.workload not in WORKLOADS:
        sys.stderr.write(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}\n")
        return 2
    expect = dict(e.split("=", 1) for e in args.expect_digest)
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    detail: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "master": MASTER}
    detail["host_before"] = host_record(DRIVER_MEMORY)
    spark = None
    w = None
    walls: list[float] = []
    traced_walls: list[float] = []
    metrics: dict[str, float] = {}
    crashed = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(work)
            session_s = time.perf_counter() - t0

            tracer = Tracer(spark.sparkContext, f"s{args.seed}", enabled=False)
            ctx = SimpleNamespace(spark=spark, tracer=tracer, work=work, seed=args.seed,
                                  size=args.size, trace=bool(args.trace))
            w = WORKLOADS[args.workload](ctx)
            t0 = time.perf_counter()
            w.generate(np.random.default_rng(args.seed))
            gen_s = time.perf_counter() - t0
            mats = []
            for rep in range(SETUP_REPS):
                w.release()
                t0 = time.perf_counter()
                w.materialise(rep)
                mats.append(time.perf_counter() - t0)
            inputs_s = gen_s + statistics.median(mats)

            w.prepare()
            # the warm-up iteration starts the Python workers and lets the
            # JIT and lazy set-up settle; it is not timed, and its outputs
            # are kept for the reference checks. The first timed round of
            # another kind may still run slower; the median of two rounds
            # of each kind leaves it out
            tracer.enabled = False
            t0 = time.perf_counter()
            w.keep = True
            w.before(0)
            w.iteration(0)
            w.after(0)
            w.keep = False
            warmup_s = time.perf_counter() - t0
            detail["setup"] = {"session_s": session_s, "warmup_s": warmup_s,
                               "generate_s": gen_s, "materialise_s": mats}
            iter_spans = []
            # at least two whole cycles: a traced run traces every other
            # cycle, so that traced and untraced iterations hold the same
            # mix of rounds, and an untraced run takes the median of two
            # rounds of each kind
            min_iterations = max(MIN_ITERATIONS, 2 * w.cycle)
            deadline = time.perf_counter() + args.seconds
            i = 1
            while i <= min_iterations or time.perf_counter() < deadline or (i - 1) % w.cycle:
                traced = bool(args.trace) and ((i - 1) // w.cycle) % 2 == 1
                tracer.enabled = traced
                w.recording = not traced
                w.before(i)
                t0 = time.perf_counter()
                with tracer.span("iteration", "bench", i=i) as sp:
                    w.iteration(i)
                (traced_walls if traced else walls).append(time.perf_counter() - t0)
                tracer.enabled = False
                w.recording = False
                w.after(i)
                if sp is not None:
                    iter_spans.append(sp)
                i += 1
            tracer.enabled = bool(args.trace)
            t0 = time.perf_counter()
            w.finish()
            tracer.enabled = False
            t1 = time.perf_counter()
            try:
                w.check()
            except Failure as e:
                w.fail(str(e))
            detail["finish_s"], detail["check_s"] = t1 - t0, time.perf_counter() - t1
            for step, want in expect.items():
                got = w.digests.get(step)
                w.attempted += 1
                if got != want:
                    w.fail(f"{step}: digest {got} but {want} was expected")
            if args.trace:
                metrics.update(layer_metrics(tracer, StatusReader(spark), iter_spans, w))
                pts, polys = w.kernel_inputs()
                metrics.update(kernelbench.run(pts, polys))
                metrics.update({"setup.session_s": session_s, "setup.warmup_s": warmup_s,
                                "setup.inputs_s": inputs_s})
                if walls and traced_walls:
                    metrics["trace.overhead_s"] = (statistics.median(traced_walls)
                                                   - statistics.median(walls))
                    # each layer's self time as a share of a traced iteration
                    detail["self_share"] = {
                        k[len("self."):-len("_s")]: v / statistics.median(traced_walls)
                        for k, v in sorted(metrics.items()) if k.startswith("self.")}
                detail["spans"] = [
                    {"run_id": tracer.run_id, "sid": sp.sid, "name": sp.name,
                     "layer": sp.layer, "parent": sp.parent, "start": sp.start,
                     "end": sp.end} for sp in tracer.spans]
            w.release()
            t0 = time.perf_counter()
            stop_session(spark)
            spark = None
            detail["stop_s"] = time.perf_counter() - t0
        wall_s = statistics.median(walls)
        metrics.update({
            "wall_s": wall_s,
            "rows_per_s": w.rows_per_iteration / wall_s,
            "setup_s": session_s + inputs_s + warmup_s,
            "peak_rss_mb": rss.peak_mb,
        })
        detail["processes_seen"] = len(rss.pids)
    except Exception:  # noqa: BLE001 - a crashed call is a failed operation
        crashed = traceback.format_exc()
        sys.stderr.write(crashed)
    finally:
        if spark is not None:
            try:
                stop_session(spark)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass

    attempted = w.attempted if w else 0
    failed = (w.failed if w else 0) + (1 if crashed else 0)
    detail.update({
        "host_after": {"loadavg": list(os.getloadavg())},
        "props": w.props if w else {},
        "iterations": {"untraced": summary(walls), "traced": summary(traced_walls),
                       "untraced_s": walls, "traced_s": traced_walls},
        "digests": w.digests if w else {},
        "errors": (w.errors if w else []) + ([crashed.strip().splitlines()[-1]] if crashed else []),
        "attempted": attempted,
        "failed": failed,
        "failed_ops_frac": failed / max(1, attempted),
    })
    detail["metrics"] = metrics
    print("detail " + json.dumps(detail, sort_keys=True, default=float))

    key = "per_layer" if args.trace else "end_to_end"
    out = {}
    for m in spec[key]:
        v = metrics.get(m["name"], 0.0)
        out[m["name"]] = {"value": float(v), "unit": m["unit"]}
    result = {"correct": failed == 0, "attempted": max(1, attempted), "failed": failed,
              "metrics": out}
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
