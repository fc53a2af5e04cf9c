"""Every registered query with an oracle must match DuckDB exactly —
this mirrors the driver's CORRECTNESS gate (row-count + columns +
order-insensitive values, floats bit-equal).

A full run (every registry name exercised, e.g. plain ``pytest
tests/``) additionally writes ``CORRECTNESS_LOCAL.json`` at the repo
root in the driver's exact per-query schema, so full-registry
correctness can be diffed against the driver's 50-name sample without
re-running the suite. Partial runs (``-k``/``--lf``) never write the
file — a filtered subset must not masquerade as full coverage.
"""

from __future__ import annotations

import json
import os

import pytest

from sqlpp_spark.queries import REGISTRY, _ensure_loaded
from sqlpp_spark.session import query_scope
from sqlpp_spark.testing.oracle import compare, run_oracle

_ensure_loaded()
WITH_ORACLE = sorted(n for n, s in REGISTRY.items() if s.oracle)
ROWS_ONLY = sorted(n for n, s in REGISTRY.items() if not s.oracle)

_LOCAL_ROWS: dict[str, dict] = {}
_LOCAL_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "CORRECTNESS_LOCAL.json",
)


@pytest.fixture(scope="module", autouse=True)
def _write_local_correctness(sf_dir):
    yield
    if set(_LOCAL_ROWS) != set(REGISTRY):
        return
    # only the driver-gate SF produces the committed artifact — a
    # default sf0.001 run must not clobber the sf0.01 record
    if not sf_dir.rstrip("/").endswith("sf0.01"):
        return
    doc = {"_meta": {"source": "tests/test_queries_oracle.py", "sf_dir": sf_dir}}
    doc.update({n: _LOCAL_ROWS[n] for n in sorted(_LOCAL_ROWS)})
    with open(_LOCAL_PATH, "w") as f:
        json.dump(doc, f, indent=1)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_match(spark, sf_dir, name):
    spec = REGISTRY[name]
    try:
        # the scope drops the query's persisted intermediates so 120
        # parametrized runs in one session don't accumulate cached blocks
        with query_scope(spark):
            report = compare(
                spec.builder(spark, sf_dir), run_oracle(spec.oracle, sf_dir)
            )
    except Exception as e:
        _LOCAL_ROWS[name] = {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": str(e)[:200],
        }
        raise
    _LOCAL_ROWS[name] = {
        "rows_match": report["rows_spark"] == report["rows_oracle"],
        "schema_match": report["cols_spark"] == report["cols_oracle"],
        # stricter than the driver's value-hash: bit-equal floats
        "hash_match": report["match"],
        "spark_rows": report["rows_spark"],
        "oracle_rows": report["rows_oracle"],
        "err": None,
    }
    assert report["match"], f"{name}: {report}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, sf_dir, name):
    spec = REGISTRY[name]
    try:
        with query_scope(spark):
            n = spec.builder(spark, sf_dir).count()
    except Exception as e:
        _LOCAL_ROWS[name] = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": str(e)[:200],
        }
        raise
    _LOCAL_ROWS[name] = {
        "rows_match": None, "schema_match": None, "hash_match": None,
        "spark_rows": n, "oracle_rows": None, "err": "no_oracle",
    }
    assert n >= 0


def test_registry_import_errors_propagate(monkeypatch):
    """A broken query module must raise at _ensure_loaded(), never
    silently shrink the registry (the driver gate would then sample a
    smaller suite and pass vacuously)."""
    import sqlpp_spark.queries as Q

    monkeypatch.setattr(Q, "_loaded", False)
    monkeypatch.setattr(Q, "QUERY_MODULES", ("relational", "no_such_module"))
    with pytest.raises(ImportError, match="no_such_module"):
        Q._ensure_loaded()
