"""The benchmark's workloads: what each request is, how its inputs are
made from the seed, and how its whole result is checked.

A workload yields passes; a pass is a list of requests. The first
``warmup_passes`` passes run during set-up, untimed, so the timed passes
find the JVM's compiled code, Spark's generated classes and the Python
workers already in place. A read request
builds a DataFrame (``plan``) whose whole result the runner collects; a
write request runs one DML statement (``write``). ``check`` compares a
collected result with its oracle after the timed call, so no request is
executed twice.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Callable, Iterator, Optional

import pandas as pd


@dataclass
class Request:
    name: str  # registry query or statement template
    kind: str  # "read" or "write"
    plan: Optional[Callable] = None  # read: () -> DataFrame
    write: Optional[Callable] = None  # write: () -> None
    # span around ``plan`` (registry builders); sqlpp reads are
    # covered by the frontend/compiler spans inside ``plan``
    plan_span: Optional[str] = None
    params: dict = field(default_factory=dict)
    error: Optional[str] = None  # set by the runner when the timed call raised


class _Collected:
    """A collected result standing in for the DataFrame that
    ``testing.oracle.compare`` expects, so the check reuses the oracle
    harness's normalization without running the query again."""

    def __init__(self, pdf: pd.DataFrame, schema):
        self._pdf = pdf
        self.schema = schema

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


def _oracle(sql: str, sf_dir: str, cache_dir: str) -> pd.DataFrame:
    """The DuckDB oracle's result, kept on disk across runs. The tables
    are read-only, so the SQL and the table files' stamps are the key."""
    from sqlpp_spark.session import TABLES
    from sqlpp_spark.testing.oracle import run_oracle

    stamps = []
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            st = os.stat(path)
            stamps.append((t, st.st_mtime_ns, st.st_size))
    key = hashlib.sha1(repr((sql, os.path.abspath(sf_dir), stamps)).encode()).hexdigest()
    path = os.path.join(cache_dir, f"{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    pdf = run_oracle(sql, sf_dir)
    os.makedirs(cache_dir, exist_ok=True)
    pdf.to_pickle(path)  # keeps attrs["duckdb_types"] for compare()
    return pdf


class RegistryWorkload:
    """Registry queries, each collected whole and checked against its
    DuckDB oracle. One pass runs every query once."""

    name = ""
    sf = ""
    warmup_passes = 0
    min_passes = 1

    def __init__(self, data_root: str, seed: int, sf: Optional[str], run_dir: str):
        self.sf_dir = os.path.join(data_root, f"sf{sf or self.sf}")
        self.oracle_dir = os.path.join(run_dir, "oracle")

    def setup(self, spark) -> None:
        self.requests = self._requests(spark)

    def _requests(self, spark) -> dict:
        raise NotImplementedError

    def passes(self) -> Iterator[list]:
        # Registry order, whatever the seed: in a cold pass the first
        # requests pay JIT and Python-worker start-up, and with the order
        # shuffled by seed the read median moved by 20% between seeds.
        while True:
            yield list(self.requests.values())

    def check(self, req: Request, pdf, schema) -> Optional[str]:
        from sqlpp_spark.queries import REGISTRY
        from sqlpp_spark.testing.oracle import compare

        oracle = _oracle(REGISTRY[req.name].oracle, self.sf_dir, self.oracle_dir)
        report = compare(_Collected(pdf, schema), oracle)
        return None if report["match"] else report["detail"] or "mismatch"

    def final_check(self) -> list:
        """``(name, mismatch or None)`` per check made after the loop."""
        return []


class Operators(RegistryWorkload):
    """The 28 ``headline=True`` registry builders (ops/ and queries/),
    one cold pass. A pass takes 50-100 s on 4 cores, a third of it in
    ``dedup_substring_rate``, so a run holds no warm-up and one timed
    pass; run it by hand."""

    name = "operators_sf0.01"
    sf = "0.01"
    only: tuple = ()  # a subset of the headline builders; empty: all

    def _requests(self, spark) -> dict:
        from sqlpp_spark.queries import headline_queries

        specs = headline_queries()
        return {
            name: Request(
                name, "read",
                plan=lambda b=specs[name].builder: b(spark, self.sf_dir),
                plan_span="queries.build",
            )
            for name in self.only or specs
        }


class OperatorsWarm(Operators):
    """Eight headline builders whose whole sf0.01 result comes back
    within about 0.8 s once warm (4 cores), timed over four or more
    passes after three untimed warm-up passes. On 4 cores a pass's CPU
    time still falls by about a tenth a pass after two passes (the JIT
    keeps compiling), and the eight take about 4 s a warm pass, so a run
    holds the warm-up and a median. They keep TPC-H joins and aggregates, a window, a Python
    UDF pass, builder plan-time jobs that compile sqlpp
    (``sqlpp_docs_quality``) and a LATERAL plan. The other twenty,
    led by ``dedup_substring_rate`` (about 20 s a run, warm or cold),
    are in ``operators_sf0.01``."""

    name = "operators_warm"
    warmup_passes = 3
    min_passes = 4
    only = (
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_revenue_forecast", "q_window_topk_per_group", "text_stats",
        "sqlpp_docs_quality", "sqlpp_lateral_topk",
    )


class SqlppDialect(RegistryWorkload):
    """Every ``SQLPP_SOURCES`` entry through ``SqlppEngine.prepare``
    then ``.df(**params)``, on the registry's engine set-up."""

    name = "sqlpp_dialect"
    sf = "0.01"

    def _requests(self, spark) -> dict:
        from sqlpp_spark.queries import _ensure_loaded, sqlpp_suite

        _ensure_loaded()
        engine = sqlpp_suite._engine(spark, self.sf_dir)
        return {
            name: Request(
                name, "read", params=params,
                plan=lambda s=src, p=params: engine.prepare(s).df(**p),
            )
            for name, (src, params) in sqlpp_suite.SQLPP_SOURCES.items()
        }


# -- dml_mixed ------------------------------------------------------------------

ORDER_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]
INSERT = (
    "insert into orders (o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
    "o_orderdate, o_orderpriority) values (?k, ?c, ?s, ?p, ?d, ?pr)"
)
UPDATE = "update orders set o_totalprice = ?p, o_orderstatus = ?s where o_orderkey = ?k"
DELETE = "delete from orders where o_orderkey = ?k"
KEYED = f"select {', '.join(ORDER_COLS)} from orders where o_custkey = ?c"
AGG = (
    "select o_orderstatus, count(1) as n, min(o_totalprice) as lo, "
    "max(o_totalprice) as hi from orders group by o_orderstatus"
)
# One block: half writes, half reads. Keyed reads outnumber aggregates
# so the read median falls inside one template's latencies rather than
# on the boundary between the two.
BLOCK = ["insert"] * 2 + ["update"] * 2 + ["delete"] + ["keyed"] * 4 + ["agg"]
TEMPLATES = {"insert": INSERT, "update": UPDATE, "delete": DELETE, "keyed": KEYED, "agg": AGG}
_EPOCH = dt.datetime(1992, 1, 1, tzinfo=dt.timezone.utc)


class DmlMixed:
    """A managed copy of ``orders`` under a seeded stream of keyed
    INSERT/UPDATE/DELETE statements and keyed/grouped reads. A pandas
    shadow applies the same statements; every read and, at the end, the
    whole table are checked against it."""

    name = "dml_mixed"
    sf = "0.01"
    # the first 20 statements run about 60% slower than the ones after
    # the first 40 (JIT, first compiles of each template), and a block's
    # CPU time can stay high for two or three blocks more; the median of
    # eight timed blocks is robust to three slow ones
    warmup_passes = 5
    min_passes = 8

    def __init__(self, data_root: str, seed: int, sf: Optional[str], run_dir: str):
        self.orders_path = os.path.join(data_root, f"sf{sf or self.sf}", "orders.parquet")
        self.work_dir = os.path.join(run_dir, "work")
        self.seed = seed

    def setup(self, spark) -> None:
        from sqlpp_spark.engine import SqlppEngine

        shutil.rmtree(self.work_dir, ignore_errors=True)
        self.engine = SqlppEngine(spark)
        self.engine.create_managed(
            "orders", os.path.join(self.work_dir, "orders"), spark.read.parquet(self.orders_path))

    # -- the shadow model -------------------------------------------------

    def _load_shadow(self) -> None:
        shadow = pd.read_parquet(self.orders_path, columns=ORDER_COLS)
        self.shadow = shadow.set_index("o_orderkey", drop=False).sort_index()
        self.keys = list(self.shadow.index)
        self.next_key = int(self.shadow.index.max()) + 1
        self.max_cust = int(self.shadow["o_custkey"].max())
        self.priorities = sorted(self.shadow["o_orderpriority"].unique())

    def _params(self, rng: random.Random, op: str) -> dict:
        if op == "insert":
            self.next_key += 1
            return {
                "k": self.next_key, "c": rng.randint(1, self.max_cust),
                "s": rng.choice("OFP"), "p": round(rng.uniform(900, 500000), 2),
                "d": _EPOCH + dt.timedelta(days=rng.randrange(2400)),
                "pr": rng.choice(self.priorities),
            }
        if op == "update":
            return {"k": rng.choice(self.keys), "p": round(rng.uniform(900, 500000), 2),
                    "s": rng.choice("OFP")}
        if op == "delete":
            return {"k": rng.choice(self.keys)}
        if op == "keyed":
            return {"c": int(self.shadow.at[rng.choice(self.keys), "o_custkey"])}
        return {}

    def _apply(self, op: str, p: dict) -> None:
        if op == "insert":
            row = [p["k"], p["c"], p["s"], p["p"], pd.Timestamp(p["d"]).tz_localize(None), p["pr"]]
            self.shadow.loc[p["k"]] = row
            self.keys.append(p["k"])
        elif op == "update":
            self.shadow.loc[p["k"], ["o_totalprice", "o_orderstatus"]] = [p["p"], p["s"]]
        elif op == "delete":
            self.shadow = self.shadow.drop(index=p["k"])
            self.keys.remove(p["k"])

    def passes(self) -> Iterator[list]:
        self._load_shadow()
        rng = random.Random(self.seed)
        while True:
            ops = rng.sample(BLOCK, len(BLOCK))
            yield self._block(rng, ops)

    def _block(self, rng: random.Random, ops: list) -> Iterator[Request]:
        # parameters depend on the shadow as left by earlier statements,
        # so each request is made only after the previous one ran
        for op in ops:
            p = self._params(rng, op)
            src = TEMPLATES[op]
            if op in ("keyed", "agg"):
                req = Request(op, "read", params=p,
                              plan=lambda s=src, p=p: self.engine.prepare(s).df(**p))
            else:
                req = Request(op, "write", params=p,
                              write=lambda s=src, p=p: self.engine.exec(s, **p))
            yield req
            if req.kind == "write" and req.error is None:
                self._apply(op, p)

    def _expected(self, req: Request) -> pd.DataFrame:
        rows = self.shadow.reset_index(drop=True)
        if req.name == "keyed":
            return rows[rows["o_custkey"] == req.params["c"]]
        g = rows.groupby("o_orderstatus")["o_totalprice"]
        return pd.DataFrame({"n": g.size(), "lo": g.min(), "hi": g.max()}).reset_index()

    def check(self, req: Request, pdf, schema) -> Optional[str]:
        if req.kind == "write":
            return None  # writes are checked through the final table
        return _frame_mismatch(pdf, self._expected(req))

    def final_check(self) -> list:
        got = self.engine.query(f"select {', '.join(ORDER_COLS)} from orders").toPandas()
        return [("final_table", _frame_mismatch(got, self.shadow.reset_index(drop=True)))]


def _frame_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> Optional[str]:
    from sqlpp_spark.testing.oracle import _normalize

    a, b = _normalize(got), _normalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows, expected {len(b)}"
    for c in a.columns:
        if not (a[c].astype(object).values == b[c].astype(object).values).all():
            return f"column {c!r} differs"
    return None


WORKLOADS = {w.name: w for w in (OperatorsWarm, DmlMixed, Operators, SqlppDialect)}
