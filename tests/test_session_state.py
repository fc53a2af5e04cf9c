"""Session state lives and dies with its SparkSession.

The check stops a session, so it runs in a subprocess: the shared
``spark`` fixture of the rest of the suite must survive it.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import sys

    from sqlpp_spark import session as S
    from sqlpp_spark.ops.text import text_stats
    from sqlpp_spark.queries import REGISTRY, _ensure_loaded, sqlpp_suite
    from sqlpp_spark.sources.tables import read_table
    from sqlpp_spark.testing.oracle import compare, run_oracle

    sf = sys.argv[1]
    name = "sqlpp_join_group"
    _ensure_loaded()

    old = S.get_spark("session_state_old")
    text_stats(read_table(old, sf, "documents"))
    REGISTRY[name].builder(old, sf).collect()
    assert S.session_state(old).exprs, "text_stats filled no memo"
    old_engine = sqlpp_suite._engine(old, sf)
    old.stop()

    new = S.get_spark("session_state_new")
    assert new is not old
    assert not S.session_state(new).exprs
    assert old not in S._STATES  # the stopped session's state is gone
    engine = sqlpp_suite._engine(new, sf)
    assert engine is not old_engine and engine.spark is new
    assert read_table(new, sf, "orders").sparkSession is new
    spec = REGISTRY[name]
    report = compare(spec.builder(new, sf), run_oracle(spec.oracle, sf))
    assert report["match"], report
    new.stop()
    print("ok")
    """
)


def test_state_dies_with_its_session(sf_dir):
    env = dict(
        os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(
            p for p in (_ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, sf_dir],
        cwd=_ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().endswith("ok"), proc.stdout[-2000:]
