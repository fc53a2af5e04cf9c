"""Spans and per-layer counters for the traced benchmark run.

Everything here lives in the benchmark: the program under test is not
edited. ``instrument`` wraps the public entry points of each layer
(parser, analyzer, compiler, table reader, DML executor, version
commit) with span-recording wrappers; the runner adds the spans it
owns (request, registry builder, ``executedPlan``, the action, session
start, oracle check). Spark-side counts come from Spark's own
surfaces: job groups + ``StatusTracker`` for jobs/stages/tasks,
``QueryExecution.tracker()`` for the Catalyst phases, and the SQL
metrics of the final adaptive plan for shuffle, spill and Python time.

A span is ``{id, name, start, end, parent, rid}``: times are seconds
since process start, ``parent`` is the id of the enclosing span (or
None) and ``rid`` names the request the span belongs to. Spans are
kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import functools
import os
import re
import sys
import time
from collections import Counter
from contextlib import contextmanager
from typing import Optional

SPAN_KEYS = ("id", "name", "start", "end", "parent", "rid")

# SQLMetric.toString(): "SQLMetric(id: 12, name: Some(spill size), value: 0)"
_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")
PLAN_METRICS = ("shuffleBytesWritten", "spillSize", "pythonTotalTime")
# seconds per unit of a time metric, by SQLMetric.metricType()
_SECONDS = {"timing": 1e-3, "nsTiming": 1e-9}


class Tracer:
    """In-memory span recorder. Single-threaded: the benchmark is one
    closed-loop client, so a plain stack gives every span its parent."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.spans: list[dict] = []
        self.counters: Counter = Counter()
        self.rid: Optional[str] = None
        # time the tracer itself adds to the run: span bookkeeping plus
        # reading Spark's counters and plans after each request
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        a = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": a - self.t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "rid": self.rid,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        b = time.perf_counter()
        try:
            yield rec
        finally:
            c = time.perf_counter()
            self._stack.pop()
            rec["end"] = c - self.t0
            self.overhead_s += (b - a) + (time.perf_counter() - c)

    def wrap(self, fn, name: str, after=None):
        """``fn`` inside a span; ``after(result, args)`` runs on return."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                a = time.perf_counter()
                after(out, args)
                self.overhead_s += time.perf_counter() - a
            return out

        return traced


def _replace_everywhere(owner, attr: str, new) -> None:
    """Rebind ``owner.attr`` and every ``from owner import attr`` copy
    held by a loaded ``sqlpp_spark`` module."""
    old = getattr(owner, attr)
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("sqlpp_spark") and (
            getattr(mod, attr, None) is old
        ):
            setattr(mod, attr, new)
    setattr(owner, attr, new)


def instrument(tracer: Tracer) -> None:
    """Wrap each layer's public entry points. Call once, after the
    registry and engine modules are imported."""
    from sqlpp_spark import engine
    from sqlpp_spark.compiler.compile import Compiler
    from sqlpp_spark.frontend import parser
    from sqlpp_spark.frontend.analyze import Analyzer
    from sqlpp_spark.sources import tables

    counters = tracer.counters

    def count_tokens(out, _args):
        counters["frontend.tokens"] += len(out)

    _replace_everywhere(parser, "tokenize", _counting(parser.tokenize, count_tokens))
    _replace_everywhere(
        parser, "parse_query", tracer.wrap(parser.parse_query, "frontend.parse")
    )
    Analyzer.analyze_query = tracer.wrap(Analyzer.analyze_query, "frontend.analyze")
    engine.PreparedQuery.df = tracer.wrap(engine.PreparedQuery.df, "compiler.compile")
    Compiler.compile_query = tracer.wrap(Compiler.compile_query, "compiler.compile")
    engine.SqlppEngine.exec = tracer.wrap(engine.SqlppEngine.exec, "engine.exec")

    last_scan: dict = {}

    def count_scan(df, args):
        _spark, sf_dir, name = args[:3]
        counters["sources.read_table_calls"] += 1
        if last_scan.get((sf_dir, name)) is df:
            counters["sources.scan_reused"] += 1
        last_scan[(sf_dir, name)] = df

    _replace_everywhere(
        tables, "read_table",
        tracer.wrap(tables.read_table, "sources.read_table", count_scan),
    )

    def count_commit(data_dir, _args):
        counters["engine.versions_committed"] += 1
        counters["engine.bytes_written"] += _dir_bytes(data_dir)

    _replace_everywhere(
        engine, "commit_version",
        tracer.wrap(engine.commit_version, "engine.commit", count_commit),
    )


def _counting(fn, after):
    @functools.wraps(fn)
    def counted(*args, **kwargs):
        out = fn(*args, **kwargs)
        after(out, args)
        return out

    return counted


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# -- Spark-side counts ---------------------------------------------------------


class SparkCounters:
    """Jobs/stages/tasks per job group, Catalyst phase times and final
    plan SQL metrics, read after a request completes."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._identity = getattr(jvm.scala.Predef, "$conforms")()
        self._bus = self.sc._jsc.sc().listenerBus()

    def set_group(self, group: Optional[str]) -> None:
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    def jobs(self, group: str) -> dict:
        """Jobs, stages that ran, tasks and failed tasks of ``group``."""
        # the status store is fed by the listener bus; drain it first
        self._bus.waitUntilEmpty()
        st = self.sc.statusTracker()
        out = Counter()
        for job_id in st.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = st.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                s = st.getStageInfo(stage_id)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += s.numCompletedTasks
                out["failed_tasks"] += s.numFailedTasks
        return out

    def phases_ms(self, df) -> dict:
        phases = self._conv.asJava(df._jdf.queryExecution().tracker().phases())
        return {k: int(phases[k].durationMs()) for k in phases.keySet()}

    def plan_metrics(self, df) -> Counter:
        """Sum the ``PLAN_METRICS`` of every node of the executed plan,
        descending into adaptive query stages and subqueries. Time
        metrics are converted to seconds by their metric type."""
        out = Counter()
        for name, node in self._nodes(df._jdf.queryExecution().executedPlan()):
            if name == "ReusedExchange":
                continue  # its metrics are the reused exchange's
            metrics = node.metrics()
            for metric, value in _METRIC_RE.findall(metrics.toString()):
                if metric in PLAN_METRICS:
                    kind = metrics.apply(metric).metricType()
                    out[metric] += max(int(value), 0) * _SECONDS.get(kind, 1)
        return out

    def _nodes(self, plan) -> list:
        out = []
        for node in self._conv.asJava(plan.map(self._identity)):
            name = node.nodeName()
            if name == "AdaptiveSparkPlan":
                out += self._nodes(node.executedPlan())
                continue
            out.append((name, node))
            if name.endswith("QueryStage"):
                out += self._nodes(node.plan())
        for sub in self._conv.asJava(plan.subqueriesAll()):
            out += self._nodes(sub)
        return out


# -- summaries ------------------------------------------------------------------


def layer_seconds(spans: list[dict], rids: set) -> Counter:
    """Inclusive seconds per span name over the requests ``rids``,
    counting a span only when no ancestor has the same name (so a
    recursive analyze or a compile nested in a compile counts once)."""
    by_id = {s["id"]: s for s in spans}
    out = Counter()
    for s in spans:
        if s["rid"] not in rids:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != s["name"]:
            p = by_id[p]["parent"]
        if p is None:
            out[s["name"]] += s["end"] - s["start"]
    return out


def self_seconds(spans: list[dict]) -> Counter:
    """Self time per span name: duration minus the time its children
    cover (children of one span never overlap: one thread)."""
    child = Counter()
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out = Counter()
    for s in spans:
        out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
    return out
