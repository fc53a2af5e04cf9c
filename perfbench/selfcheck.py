"""Quick self-check of the benchmark itself.

    python3 perfbench/selfcheck.py [--sf 0.001] [--seed 7]

Runs every workload in BENCHMARK.json at a small scale, with its
warm-up and its minimum of timed passes, untraced and traced, from
inside ``perfbench/`` (so Spark's Python
workers must find sqlpp_spark through PYTHONPATH, not the working
directory). Asserts that each run prints the result line with every
metric named in BENCHMARK.json under its unit, that every result was
correct, and that the trace holds well-formed spans and per-request
rows. Prints the tracing overhead: traced minus untraced ``cpu_s`` and
``wall_s``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import RUN_DIR  # noqa: E402
from perfbench.trace import SPAN_KEYS  # noqa: E402

ROW_KEYS = {"rid", "name", "kind", "latency_s", "rows", "ok"}
TRACED_ROW_KEYS = ROW_KEYS | {"plan_jobs", "plan_stages", "run_jobs"}


def run(workload: str, trace: int, sf: str, seed: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--sf", sf]
    p = subprocess.run(cmd, cwd=HERE, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(RUN_DIR, f"run-{workload}-seed{seed}-trace{trace}.json")) as fh:
        return result, json.load(fh)


def check_result(result: dict, spec: list, where: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, where
    assert result["correct"] is True and result["failed"] == 0, (where, result)
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, where
    want = {m["name"]: m["unit"] for m in spec}
    got = result["metrics"]
    assert set(got) == set(want), (where, set(got) ^ set(want))
    for name, m in got.items():
        assert m["unit"] == want[name], (where, name, m)
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (where, name)


def check_trace(record: dict, where: str) -> None:
    spans = record["spans"]
    assert spans, where
    by_id = {}
    for s in spans:
        assert tuple(s) == SPAN_KEYS, (where, s)
        assert s["end"] >= s["start"] >= 0, (where, s)
        assert isinstance(s["rid"], str) and s["rid"], (where, s)
        if s["parent"] is not None:
            p = by_id[s["parent"]]  # a parent is recorded before its children
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (where, s, p)
            assert p["rid"] == s["rid"], (where, s, p)
        by_id[s["id"]] = s
    names = {s["name"] for s in spans}
    assert {"session.start", "request", "oracle.check"} <= names, (where, names)
    for row in record["requests"]:
        assert set(row) == TRACED_ROW_KEYS, (where, row)
    assert set(record["self_s"]) == names, where


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.001")
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        name = w["name"]
        plain, plain_rec = run(name, 0, args.sf, args.seed)
        check_result(plain, bench["end_to_end"], f"{name} untraced")
        assert all(set(r) == ROW_KEYS for r in plain_rec["requests"]), name
        traced, traced_rec = run(name, 1, args.sf, args.seed)
        check_result(traced, bench["per_layer"], f"{name} traced")
        check_trace(traced_rec, f"{name} traced")
        traced_m, cpu_s = traced_rec["per_layer"], plain_rec["end_to_end"]["cpu_s"]
        wall_s = plain_rec["side"]["wall_s"]
        print(f"{name}: ok; {plain['attempted']} requests; tracing overhead "
              f"{traced_m['trace.cpu_s'] - cpu_s:+.2f} s on cpu_s {cpu_s:.2f} s, "
              f"{traced_m['trace.wall_s'] - wall_s:+.2f} s on wall_s {wall_s:.2f} s "
              f"(tracer's own time {traced_m['trace.overhead_s']:.2f} s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
