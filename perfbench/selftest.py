"""Self-test of the benchmark: runs every workload at the tiny size,
untraced and traced, and asserts that

  * the last line parses as the result object with exactly the keys
    correct, attempted, failed and metrics;
  * every end-to-end (untraced) or per-layer (traced) metric named in
    BENCHMARK.json is printed with its unit, and every end-to-end value
    is above zero;
  * every per-layer metric is non-zero on at least one workload, and
    perfbench/layers.json says what each one should move;
  * a deliberately wrong expected digest makes the command exit nonzero.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload: str, trace: int, *extra: str) -> tuple[int, dict | None, dict, str]:
    """Exit code, result object, detail object and stderr of one run."""
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        detail = json.loads(lines[-2].removeprefix("detail "))
        return p.returncode, json.loads(lines[-1]), detail, p.stderr
    except (IndexError, json.JSONDecodeError):
        return p.returncode, None, {}, p.stderr


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    layers = json.loads((HERE / "layers.json").read_text())
    problems: list[str] = []
    mapped = [m for g in layers["groups"] for m in g["metrics"]]
    names = [m["name"] for m in spec["per_layer"]]
    if sorted(mapped) != sorted(names):
        problems.append(f"layers.json and BENCHMARK.json per_layer differ: "
                        f"{sorted(set(mapped) ^ set(names))}")
    seen_nonzero: set[str] = set()
    digests: dict[str, dict] = {}
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, detail, err = run(wl, trace)
            digests.setdefault(wl, detail.get("digests", {}))
            tag = f"{wl} trace={trace}"
            if res is None or rc != 0:
                problems.append(f"{tag}: exit {rc}, result {res}\n{err[-2000:]}")
                continue
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metric names/units differ: "
                                f"{sorted(set(got.items()) ^ set(want.items()))}")
            for k, v in res["metrics"].items():
                if not isinstance(v.get("value"), (int, float)):
                    problems.append(f"{tag}: {k} value {v.get('value')!r}")
                elif v["value"] != 0:
                    seen_nonzero.add(k)
                elif trace == 0:
                    problems.append(f"{tag}: end-to-end metric {k} is 0")
            print(f"ok {tag}", flush=True)
    dead = [n for n in names if n not in seen_nonzero]
    if dead:
        problems.append(f"per-layer metrics zero on every workload: {dead}")
    wl = spec["workloads"][0]["name"]
    if digests.get(wl):
        step, good = sorted(digests[wl].items())[0]
        rc, res, _, _ = run(wl, 0, "--expect-digest", f"{step}={good}x")
        if rc == 0 or res is None or res["failed"] < 1:
            problems.append(f"a wrong expected digest for {step} did not fail the run (exit {rc})")
        else:
            print(f"ok wrong digest for {step} exits nonzero", flush=True)
    else:
        problems.append(f"{wl}: no digests recorded")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
