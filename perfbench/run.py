"""Run one workload of the sqlpp_spark benchmark and print its metrics.

    python3 perfbench/run.py --workload operators_warm --seed 1 --seconds 20 --trace 0

One client thread sends each request after the previous one has
returned its whole result (a closed loop), against Spark on
``local[<cores>]``. A run starts the session, sets the workload up once
and runs its untimed warm-up passes (``setup_s`` runs from process start
to the first timed request), then runs whole timed passes until
``--seconds`` are used up (never fewer than the workload's minimum),
checks every result and prints, as the last line of stdout, one JSON
object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run records
spans and Spark counters and the metrics are the per-layer ones. A
human-readable summary goes to stderr, and the per-request rows (and,
traced, the spans) go to ``.perfbench_run/`` in the checkout.

Data: the parquet tables under ``--data`` (default: the parent of
``SPARK_GRAFT_SF_DIR``, as used by ``sqlpp_spark.session``). All
scratch files stay under ``.perfbench_run/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import Counter  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")

END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
}
PER_LAYER_UNITS = {
    "frontend.parse_s": "s",
    "frontend.analyze_s": "s",
    "frontend.tokens": "count",
    "compiler.compile_s": "s",
    "compiler.plan_jobs": "count",
    "compiler.plan_stages": "count",
    "queries.build_s": "s",
    "queries.plan_jobs": "count",
    "queries.plan_stages": "count",
    "sources.read_table_calls": "count",
    "sources.read_table_s": "s",
    "sources.scan_reuse_ratio": "ratio",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.executed_plan_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.python_s": "s",
    "exec.result_rows": "count",
    "engine.write_s": "s",
    "engine.versions_committed": "count",
    "engine.bytes_written": "bytes",
    "engine.bytes_written_per_row_changed": "bytes",
    "session.start_s": "s",
    "oracle.check_s": "s",
    "trace.wall_s": "s",
    "trace.cpu_s": "s",
    "trace.overhead_s": "s",
}


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="directory holding the sf<scale>/ table dirs")
    ap.add_argument("--sf", help="scale factor override, e.g. 0.001")
    return ap.parse_args(argv)


def _isolate_env() -> None:
    """Keep every file the run writes inside the checkout, and let
    Spark's Python workers import sqlpp_spark from any working dir."""
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    # Compiler threads that live as long as the JVM, so that their CPU
    # time can be read and left out of cpu_s (see _tree_cpu_s).
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} "
        "-XX:-UseDynamicNumberOfCompilerThreads' "
        f"--conf spark.sql.warehouse.dir={os.path.join(RUN_DIR, 'warehouse')} pyspark-shell"
    )
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _peak_rss_mb(jvm_pid: int) -> float:
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024


def _tree_cpu_s() -> float:
    """CPU seconds, user plus system, used so far by this process and
    every process under it (the JVM, Spark's Python workers), less the
    JVM's JIT compiler threads. A process that has exited is counted in
    its parent's children's time. The JIT is left out because its work
    is the JVM warming up, not the program's: it goes on for minutes,
    took 37-49% of a timed pass's CPU time on 4 cores, and fell from
    pass to pass while the rest stayed nearly flat."""
    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        parent[int(d)] = int(f[1])
        cpu[int(d)] = sum(int(x) for x in f[11:15]) / tick  # utime stime cutime cstime
    total = 0.0
    for pid, c in cpu.items():
        p = pid
        while p != me and p in parent:
            p = parent[p]
        if p == me:
            total += c - _jit_cpu_s(pid, tick)
    return total


def _jit_cpu_s(pid: int, tick: int) -> float:
    """CPU seconds, user plus system, of the JIT compiler threads of
    ``pid``; 0 for a process that has none."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        # HotSpot names them "C1 CompilerThread<n>" and "C2 CompilerThread<n>"
        if raw[raw.index("(") + 1:raw.rindex(")")].startswith(("C1 Compiler", "C2 Compiler")):
            f = raw.rsplit(")", 1)[1].split()
            total += (int(f[11]) + int(f[12])) / tick
    return total


def _quantile(xs: list, q: float) -> float | None:
    """The q-quantile, or None unless ten samples lie beyond it."""
    if len(xs) * (1 - q) < 10:
        return None
    if q == 0.5:
        return statistics.median(xs)
    return statistics.quantiles(xs, n=100)[round(q * 100) - 1]


class Runner:
    def __init__(self, args, workload, tracer):
        self.args = args
        self.wl = workload
        self.tracer = tracer
        self.rows: list[dict] = []  # one per timed request
        self.warmup_rows: list[dict] = []
        self.failures: list[tuple] = []
        self.final_checks = 0
        self.check_s = 0.0
        self.check_cpu_s = 0.0  # the checks' own CPU, kept out of cpu_s
        self.oracle_prep_s = 0.0  # checks during set-up: not in setup_s
        self.spark_counts = None
        self.layer = Counter()  # traced Spark-side counts, summed

    def _span(self, name):
        return self.tracer.span(name) if self.tracer and name else nullcontext()

    def _group(self, group):
        if self.spark_counts:
            self.spark_counts.set_group(group)

    def setup(self) -> None:
        """Start the session, set the workload up and run its warm-up
        passes. ``setup_s`` runs from process start to the end of this
        call, just before the first timed request."""
        from sqlpp_spark.session import get_spark

        if self.tracer:
            self.tracer.rid = "setup"
        with self._span("session.start"):
            self.spark = get_spark("perfbench")
        self.session_start_s = time.perf_counter() - PROCESS_START
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        if self.tracer:
            import sqlpp_spark.queries as registry
            from perfbench.trace import SparkCounters, instrument

            registry._ensure_loaded()
            instrument(self.tracer)
            self.spark_counts = SparkCounters(self.spark)
        self.wl.setup(self.spark)
        self.passes = self.wl.passes()
        for _ in range(self.wl.warmup_passes):
            a = time.perf_counter()
            requests = next(self.passes)  # dml_mixed loads its shadow here
            self.oracle_prep_s += time.perf_counter() - a
            for req in requests:
                self._request(req, timed=False)
        self.setup_s = time.perf_counter() - PROCESS_START - self.oracle_prep_s

    def run(self) -> tuple:
        """Whole passes until the time budget is used; returns the wall
        and CPU seconds of each pass, checks left out."""
        walls, cpus = [], []
        if self.tracer:
            self.tracer.counters.clear()  # count the timed requests only
        deadline = time.perf_counter() + self.args.seconds
        for n, requests in enumerate(self.passes, 1):
            t0, checks0 = time.perf_counter(), self.check_s
            c0, check_cpu0 = _tree_cpu_s(), self.check_cpu_s
            for req in requests:
                self._request(req)
            walls.append(time.perf_counter() - t0 - (self.check_s - checks0))
            cpus.append(_tree_cpu_s() - c0 - (self.check_cpu_s - check_cpu0))
            if n >= self.wl.min_passes and time.perf_counter() + statistics.mean(walls) > deadline:
                break
        return walls, cpus

    def _request(self, req, timed: bool = True) -> None:
        rows = self.rows if timed else self.warmup_rows
        rid = f"{'r' if timed else 'w'}{len(rows)}"
        counts = self.spark_counts
        if self.tracer:
            self.tracer.rid = rid
        pdf = schema = df = error = None
        t0 = time.perf_counter()
        try:
            with self._span("request"):
                if req.kind == "write":
                    self._group(f"{rid}/run")
                    req.write()
                else:
                    self._group(f"{rid}/plan")
                    with self._span(req.plan_span):
                        df = req.plan()
                    self._group(f"{rid}/run")
                    if counts:
                        with self._span("catalyst.executed_plan"):
                            df._jdf.queryExecution().executedPlan()
                    with self._span("exec.action"):
                        pdf = df.toPandas()
        except Exception as e:  # a failed request is counted, not fatal
            error = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        req.error = error
        latency = time.perf_counter() - t0
        row = {"rid": rid, "name": req.name, "kind": req.kind,
               "latency_s": latency, "rows": None if pdf is None else len(pdf)}
        if counts:
            a = time.perf_counter()
            counts.set_group(None)
            row.update(self._spark_counts(rid, req, df if error is None else None, timed))
            self.tracer.overhead_s += time.perf_counter() - a
        a, a_cpu = time.perf_counter(), time.process_time()
        with self._span("oracle.check"):
            if error is None:
                if df is not None:
                    schema = df.schema
                try:
                    error = self.wl.check(req, pdf, schema)
                except Exception as e:
                    error = f"check raised {type(e).__name__}: {e}"
        if timed:
            self.check_s += time.perf_counter() - a
            self.check_cpu_s += time.process_time() - a_cpu
        else:
            self.oracle_prep_s += time.perf_counter() - a
        row["ok"] = error is None
        if error is not None:
            self.failures.append((f"{req.name} ({rid})", error))
        rows.append(row)

    def _spark_counts(self, rid, req, df, timed) -> dict:
        c = self.spark_counts
        plan = c.jobs(f"{rid}/plan")
        run = c.jobs(f"{rid}/run")
        out = {"plan_jobs": plan["jobs"], "plan_stages": plan["stages"],
               "run_jobs": run["jobs"]}
        if not timed:
            return out
        layer = self.layer
        # a registry builder's plan-time jobs are the builder's, even
        # when it compiles sqlpp inside
        prefix = "queries" if req.plan_span == "queries.build" else "compiler"
        layer[f"{prefix}.plan_jobs"] += plan["jobs"]
        layer[f"{prefix}.plan_stages"] += plan["stages"]
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            layer[f"exec.{k}"] += run[k]
        if df is not None:
            for phase, ms in c.phases_ms(df).items():
                layer[f"catalyst.{phase}_ms"] += ms
            m = c.plan_metrics(df)
            layer["exec.shuffle_write_bytes"] += m["shuffleBytesWritten"]
            layer["exec.spill_bytes"] += m["spillSize"]
            layer["exec.python_s"] += m["pythonTotalTime"]
        return out

    def final_check(self) -> None:
        if self.tracer:
            self.tracer.rid = "final"
        a = time.perf_counter()
        with self._span("oracle.check"):
            try:
                checks = self.wl.final_check()
            except Exception as e:
                checks = [("final_check", f"{type(e).__name__}: {e}")]
        self.final_checks = len(checks)
        self.failures += [(name, bad) for name, bad in checks if bad is not None]
        self.check_s += time.perf_counter() - a


def end_to_end(setup_s, cpus) -> dict:
    return {"setup_s": setup_s, "cpu_s": statistics.median(cpus)}


def side_metrics(walls, rows, failures, attempted, rss_mb) -> dict:
    """Figures reported on stderr and in the run file only. The
    wall-clock ones follow the host more than the program: on a shared
    4-core VM losing 10-17% of its CPU time to other tenants, the IQR of
    five to ten identical runs reached 40-60% of the median for
    ``wall_s`` and ``read_geomean_s``, against 9-22% for the CPU time of
    the same runs. A p90 needs more samples than a run gives, one
    workload has writes, the failure share is 0 at this commit, and peak
    RSS (driver plus JVM) follows the JVM's heap sizing more than the
    work."""
    reads = [r["latency_s"] for r in rows if r["kind"] == "read"]
    writes = [r["latency_s"] for r in rows if r["kind"] == "write"]
    return {
        "wall_s": statistics.median(walls),
        "read_geomean_s": math.exp(statistics.fmean(math.log(x) for x in reads)),
        "read_p50_s": _quantile(reads, 0.5),
        "read_p90_s": _quantile(reads, 0.9),
        "write_p50_s": _quantile(writes, 0.5),
        "write_p90_s": _quantile(writes, 0.9),
        "failed_frac": len(failures) / attempted,
        "peak_rss_mb": rss_mb,
        "reads": len(reads),
        "writes": len(writes),
    }


def per_layer(runner, tracer, walls, cpus, rows) -> dict:
    from perfbench.trace import layer_seconds

    rids = {r["rid"] for r in rows}
    sec = layer_seconds(tracer.spans, rids)
    c = tracer.counters
    out = {k: 0 for k in PER_LAYER_UNITS}
    out.update((k, v) for k, v in runner.layer.items() if k in out)
    out.update({
        "frontend.parse_s": sec["frontend.parse"],
        "frontend.analyze_s": sec["frontend.analyze"],
        "frontend.tokens": c["frontend.tokens"],
        "compiler.compile_s": sec["compiler.compile"],
        "queries.build_s": sec["queries.build"],
        "sources.read_table_calls": c["sources.read_table_calls"],
        "sources.read_table_s": sec["sources.read_table"],
        "sources.scan_reuse_ratio": (
            c["sources.scan_reused"] / c["sources.read_table_calls"]
            if c["sources.read_table_calls"] else 0
        ),
        "catalyst.executed_plan_s": sec["catalyst.executed_plan"],
        "exec.action_s": sec["exec.action"],
        "exec.result_rows": sum(r["rows"] or 0 for r in rows),
        "engine.write_s": sec["engine.exec"],
        "engine.versions_committed": c["engine.versions_committed"],
        "engine.bytes_written": c["engine.bytes_written"],
        "engine.bytes_written_per_row_changed": (
            # every dml_mixed write changes exactly one row (keyed)
            c["engine.bytes_written"] / sum(r["kind"] == "write" for r in rows)
            if any(r["kind"] == "write" for r in rows) else 0
        ),
        "session.start_s": runner.session_start_s,
        "oracle.check_s": runner.check_s,
        "trace.wall_s": statistics.median(walls),
        "trace.cpu_s": statistics.median(cpus),
        "trace.overhead_s": tracer.overhead_s,
    })
    return out


def _summary(args, runner, res, side, failures, rows, walls) -> None:
    err = sys.stderr
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(rows)} requests in {len(walls)} pass(es), "
          f"session start {runner.session_start_s:.2f} s, set-up {runner.setup_s:.2f} s",
          file=err)
    units = {**END_TO_END_UNITS, **PER_LAYER_UNITS, "wall_s": "s", "read_geomean_s": "s",
             "read_p50_s": "s", "read_p90_s": "s",
             "write_p50_s": "s", "write_p90_s": "s", "failed_frac": "ratio",
             "peak_rss_mb": "MB", "reads": "count", "writes": "count"}
    for k, v in {**res, **{k: v for k, v in side.items() if v is not None}}.items():
        print(f"  {k:40s} {v:14.6g} {units.get(k, '')}", file=err)
    for name, detail in failures:
        print(f"  FAILED {name}: {detail}", file=err)
    slow = sorted(rows, key=lambda r: -r["latency_s"])[:8]
    print("  slowest: " + ", ".join(f"{r['name']} {r['latency_s']:.2f}s" for r in slow), file=err)


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sqlpp_spark", "__init__.py")):
        print("perfbench: no sqlpp_spark package next to perfbench/", file=sys.stderr)
        return 2
    _isolate_env()
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    from sqlpp_spark.session import DEFAULT_SF_DIR

    data = args.data or os.path.dirname(DEFAULT_SF_DIR)
    wl = WORKLOADS[args.workload](data, args.seed, args.sf, RUN_DIR)
    tracer = Tracer(PROCESS_START) if args.trace else None
    runner = Runner(args, wl, tracer)

    runner.setup()
    walls, cpus = runner.run()
    runner.final_check()
    rows, failures = runner.rows, runner.failures
    rss_mb = _peak_rss_mb(runner.jvm_pid)
    _stop_spark(runner.spark)

    res = end_to_end(runner.setup_s, cpus)
    attempted = len(rows) + len(runner.warmup_rows) + runner.final_checks
    side = side_metrics(walls, rows, failures, attempted, rss_mb)
    out_file = os.path.join(RUN_DIR, f"run-{args.workload}-seed{args.seed}-trace{args.trace}.json")
    record = {"workload": args.workload, "seed": args.seed,
              "pass_walls_s": walls, "pass_cpu_s": cpus, "end_to_end": res, "side": side,
              "failures": failures, "requests": rows,
              "warmup_requests": runner.warmup_rows}
    if tracer:
        from perfbench.trace import self_seconds

        metrics = per_layer(runner, tracer, walls, cpus, rows)
        record.update(per_layer=metrics, spans=tracer.spans,
                      self_s=dict(self_seconds(tracer.spans)))
        units = PER_LAYER_UNITS
    else:
        metrics, units = res, END_TO_END_UNITS
    with open(out_file, "w") as fh:
        json.dump(record, fh, default=str)
    for d in ("tmp", "spark-local", "warehouse", "work"):
        shutil.rmtree(os.path.join(RUN_DIR, d), ignore_errors=True)

    _summary(args, runner, metrics, side, failures, rows, walls)
    sys.stderr.flush()
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
