"""Measurement plumbing that sits outside the program: spans tagged onto
Spark job groups, a reader for Spark's own status stores, a peak-memory
sampler over the process tree, the host record, order-independent
output digests and sample statistics.

Nothing here imports ``sparkh3``.
"""

from __future__ import annotations

import os
import platform
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def summary(values: list[float]) -> dict:
    """Median, quartiles, the highest percentile with at least ten
    samples beyond it (``p_hi``, absent below 20 samples), max and n."""
    vals = sorted(values)
    n = len(vals)
    out = {"n": n, "median": statistics.median(vals) if vals else None}
    if n >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
        out["q1"], out["q3"] = q1, q3
    for p in (0.99, 0.9):
        if n * (1 - p) >= 10:
            out["p_hi"] = {"p": p, "value": vals[min(n - 1, int(p * n))]}
            break
    out["max"] = vals[-1] if vals else None
    return out


# ---------------------------------------------------------------------------
# output digests
# ---------------------------------------------------------------------------


def digest(df) -> tuple[int, str]:
    """Order-independent digest of a DataFrame in ONE Spark job: row
    count plus the sums of the low and high 32-bit halves of each row's
    xxhash64 (floats rounded to 6 decimals first). Serves as the step's
    action: it materialises every column of the frame."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        F.round(F.col(f.name), 6)
        if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f.name)
        for f in df.schema.fields
    ]
    h = F.xxhash64(*cols)
    row = (
        df.select(h.alias("_h"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("_h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
            F.sum(F.shiftrightunsigned(F.col("_h"), 32)).alias("hi"),
        )
        .collect()[0]
    )
    n = int(row["n"])
    lo = int(row["lo"] or 0)
    hi = int(row["hi"] or 0)
    return n, f"{n:x}-{lo:x}-{hi:x}"


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: str
    name: str
    layer: str
    parent: str | None
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans around the benchmark's calls into the program. Each span
    sets a Spark job group named after its id, so that jobs, stages and
    SQL executions it launches can be attributed to it afterwards.
    Spans stay in memory; ``spans`` is read when the run ends. A
    disabled tracer records nothing and makes no Spark call."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            sid=f"{self.run_id}.{len(self.spans)}",
            name=name,
            layer=layer,
            parent=parent.sid if parent else None,
            start=time.time(),
            attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.sid, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.sid, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of each span not covered by its child spans."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_len([(c.start, c.end) for c in kids.get(s.sid, [])], s.start, s.end)
        out[s.sid] = max(0.0, (s.end - s.start) - covered)
    return out


def union_len(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6,
}
_TOTAL_RE = re.compile(r"^\s*([0-9][0-9.,]*)\s*([A-Za-zµ]+)")

PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def _parse_total(text: str) -> float:
    """Total of a formatted SQL metric: the line after the
    'total (min, med, max ...)' header, or the bare value."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _TOTAL_RE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


@dataclass
class JobRec:
    job_id: int
    group: str | None
    start: float
    end: float
    stage_ids: list[int]


class StatusReader:
    """Reads jobs, stages and SQL executions from Spark's status stores
    (``SparkContext.statusStore`` and the SQL shared state's store).
    Both are populated with ``spark.ui.enabled=false``."""

    def __init__(self, spark):
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def jobs(self) -> list[JobRec]:
        out = []
        for j in _scala_iter(self._app.jobsList(None)):
            grp = j.jobGroup()
            sub, comp = j.submissionTime(), j.completionTime()
            out.append(
                JobRec(
                    job_id=int(j.jobId()),
                    group=grp.get() if grp.isDefined() else None,
                    start=sub.get().getTime() / 1e3 if sub.isDefined() else 0.0,
                    end=comp.get().getTime() / 1e3 if comp.isDefined() else 0.0,
                    stage_ids=[int(s) for s in _scala_iter(j.stageIds())],
                )
            )
        return out

    def stage(self, stage_id: int) -> dict | None:
        """Metrics of a stage's last attempt; None for a stage that never
        ran (skipped because its shuffle output was reused)."""
        from py4j.protocol import Py4JJavaError

        try:
            s = self._app.lastStageAttempt(stage_id)
        except Py4JJavaError:
            return None
        if str(s.status().toString()) != "COMPLETE":
            return None
        return {
            "tasks": int(s.numCompleteTasks()),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "input_bytes": int(s.inputBytes()),
            "shuffle_read_bytes": int(s.shuffleReadBytes()),
            "shuffle_write_bytes": int(s.shuffleWriteBytes()),
            "result_bytes": int(s.resultSize()),
            "input_records": int(s.inputRecords()),
        }

    def python_nodes(self) -> list[dict]:
        """Per SQL execution: its job ids and the totals of the Python
        worker metrics (ArrowEvalPython, BatchEvalPython, MapInPandas and
        the other Python plan nodes report these)."""
        out = []
        for e in _scala_iter(self._sql.executionsList()):
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            seen: set[int] = set()
            rec = {"job_ids": [int(k) for k in _scala_iter(e.jobs().keySet())],
                   "python_s": 0.0, "to_python": 0.0, "from_python": 0.0, "nodes": 0}
            for m in _scala_iter(e.metrics()):
                name = m.name()
                if name not in (PY_TIME, PY_SENT, PY_RECV):
                    continue
                acc = int(m.accumulatorId())
                v = values.get(acc)
                if acc in seen or not v.isDefined():
                    continue
                seen.add(acc)
                total = _parse_total(v.get())
                if name == PY_TIME:
                    rec["python_s"] += total
                    rec["nodes"] += 1
                elif name == PY_SENT:
                    rec["to_python"] += total
                else:
                    rec["from_python"] += total
            out.append(rec)
        return out


# ---------------------------------------------------------------------------
# peak RSS of the process tree
# ---------------------------------------------------------------------------


class RssSampler:
    """Samples the summed memory of this process and all its descendants
    (driver Python, JVM, Python workers) from /proc every `interval`
    seconds on a daemon thread; ``peak_mb`` is the highest sum seen and
    ``pids`` every descendant seen (a respawned Python worker adds one).

    Each process counts its proportional set size (Pss), which splits a
    page shared by several processes among them: a child forked from
    the JVM or the Python worker daemon would otherwise count its
    parent's pages a second time."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may contain spaces: split after ')'
            parent[int(d)] = int(stat[stat.rfind(")") + 2:].split()[1])
        root = os.getpid()
        total = 0
        for pid in parent:
            p, hops = pid, 0
            while p not in (0, 1) and p != root and hops < 64:
                p, hops = parent.get(p, 0), hops + 1
            if p != root:
                continue
            pss = _pss_bytes(pid)
            if pss is not None:
                total += pss
                self.pids.add(pid)
        self.peak_bytes = max(self.peak_bytes, total)


def _pss_bytes(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


# ---------------------------------------------------------------------------
# host record
# ---------------------------------------------------------------------------


def host_record(driver_memory: str) -> dict:
    import numpy
    import pandas
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "driver_memory": driver_memory,
        "machine": platform.machine(),
    }
