"""sf1 scaling rehearsal (round-16 verdict ask #5): run the FULL
headline suite at sf1 (10x sf0.1 — 6M lineitem, 50k documents) and
record per-query sf0.1 -> sf1 wall/shuffle ratios, so the "plans read
as scale-safe" claims become a measured scaling curve.

Fixture (/tmp/sf1, rebuilt if absent): 10 key-strided copies of every
sf0.1 TPC-H table — foreign keys shift together (copy i adds
i*ID_STRIDE to orderkey/custkey/partkey/suppkey on every side), so
join fan-outs are exactly preserved; nation/region stay (dimension
constants, as in TPC-H where they are SF-invariant). documents gets
the per-copy word-shuffle and embeddings the per-copy perturbation
from scale_rehearsal (same length/word histograms, disjoint shingles
— near-dup pair counts stay realistic instead of exploding 100x).
events strides event_id/user_id and keeps timestamps (10x rows per
window, window count unchanged — how the suite's rollups scale on a
denser stream).

Wall is min-of-RUNS with cache cleared between runs; shuffle/input
bytes via the UI REST API as in scale_rehearsal. A query whose wall
ratio is far above 10x is super-linear — named in the output.

Output: SF1_REHEARSAL.json + markdown rows on stdout (for SCALING.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from scale_rehearsal import (  # noqa: E402
    SCALE10, build_fixture, get_spark_with_ui, stage_totals,
)

from sqlpp_spark.queries import REGISTRY, _ensure_loaded  # noqa: E402
from sqlpp_spark.session import query_scope  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/sf1"
COPIES = 10
ID_STRIDE = 10_000_000  # far above every sf0.1 key (max ~600k)
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))

# key columns that must stride TOGETHER across copies
STRIDED = {
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
}
SYMLINKED = ("region", "nation")  # SF-invariant dimensions (TPC-H)


def build_sf1(spark: SparkSession) -> None:
    if os.path.isdir(SF1):
        return
    # documents/embeddings come from the scale10 fixture (word
    # shuffle / perturbation) — build it first, then link
    build_fixture(spark)
    os.makedirs(SF1)
    for t in ("documents", "embeddings"):
        os.symlink(f"{SCALE10}/{t}.parquet", f"{SF1}/{t}.parquet")
    for t in SYMLINKED:
        os.symlink(f"{SF01}/{t}.parquet", f"{SF1}/{t}.parquet")
    for t, keys in STRIDED.items():
        from sqlpp_spark.sources.tables import read_table

        base = read_table(spark, SF01, t)
        parts = []
        for i in range(COPIES):
            sel = [
                (F.col(c) + F.lit(i * ID_STRIDE)).alias(c)
                if c in keys else F.col(c)
                for c in base.columns
            ]
            parts.append(base.select(*sel))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        out.coalesce(16).write.parquet(f"{SF1}/{t}.parquet")
        print(f"built {t} x{COPIES}")


def run_one(spark, builder, sf_dir):
    best = None
    for _ in range(RUNS):
        spark.catalog.clearCache()
        before = stage_totals(spark)
        t0 = time.perf_counter()
        with query_scope(spark):
            n = builder(spark, sf_dir).count()
            dt = time.perf_counter() - t0
        after = stage_totals(spark)
        rec = {
            "sec": round(dt, 3),
            "rows": n,
            "shuffle_mb": round(
                (after["shuffle_write"] - before["shuffle_write"]) / 2**20, 3
            ),
            "input_mb": round((after["input"] - before["input"]) / 2**20, 3),
        }
        if best is None or rec["sec"] < best["sec"]:
            best = rec
    return best


def main() -> None:
    spark = get_spark_with_ui()
    build_sf1(spark)
    _ensure_loaded()
    names = [n for n, s in sorted(REGISTRY.items()) if s.headline]
    # r19 (r18 verdict task 5): pin the newer operators' predicted-
    # linear shapes too, beyond the headline set
    extra = [
        "sqlpp_pivot", "sqlpp_unpivot", "sqlpp_recursive_mutual",
        "sqlpp_lateral_agg_keyed", "sqlpp_recursive_nonlinear",
        "sqlpp_pivot_dynamic", "sqlpp_unpivot_multi",
    ]
    names += [n for n in extra if n not in names]
    results = {}
    for name in names:
        b = REGISTRY[name].builder
        r01 = run_one(spark, b, SF01)
        r1 = run_one(spark, b, SF1)
        ratio = round(r1["sec"] / max(r01["sec"], 1e-3), 2)
        sh_ratio = (
            round(r1["shuffle_mb"] / r01["shuffle_mb"], 2)
            if r01["shuffle_mb"] > 0.01 else None
        )
        results[name] = {
            "sf01": r01, "sf1": r1,
            "wall_ratio": ratio, "shuffle_ratio": sh_ratio,
        }
        print(f"{name:35s} sf0.1={r01['sec']:>8.2f}s sf1={r1['sec']:>8.2f}s "
              f"wall x{ratio:<6} shuffle x{sh_ratio}")
    # r18 (r17 verdict task 5): the fixture now seeds ~1% of docs as
    # cross-copy near-dup clusters, so the near-dup queries must
    # return rows at sf1 AND match the DuckDB oracle there — result
    # QUALITY at scale, not just wall/shuffle
    from sqlpp_spark.testing.oracle import compare, run_oracle

    quality = {}
    for name in ("dedup_minhash", "dedup_ngram_jaccard"):
        rows = results[name]["sf1"]["rows"]
        assert rows > 0, f"{name}: seeded fixture produced no pairs"
        spec = REGISTRY[name]
        cmp_ = compare(
            spec.builder(spark, SF1), run_oracle(spec.oracle, SF1)
        )
        quality[name] = {"rows": rows, "oracle_match": cmp_["match"]}
        print(f"{name} sf1 quality: rows={rows} "
              f"oracle_match={cmp_['match']}")
    out = {
        "copies": COPIES,
        "runs_per_point": RUNS,
        "loadavg_before": round(os.getloadavg()[0], 2),
        "queries": results,
        "sf1_neardup_quality": quality,
        "note": (
            "sf1 = 10 key-strided copies of sf0.1 (join fan-outs "
            "preserved); documents word-shuffled with ~1% seeded "
            "cross-copy near-dup clusters (single-word mutations of "
            "the original order), embeddings perturbed per copy. "
            "wall_ratio ~10 or less = linear or better; nation/region "
            "SF-invariant per TPC-H. sf1_neardup_quality pins "
            "non-zero, DuckDB-oracle-matching pair results at sf1."
        ),
    }
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "SF1_REHEARSAL.json"), "w") as f:
        json.dump(out, f, indent=1)
    print("wrote SF1_REHEARSAL.json")
    spark.stop()


if __name__ == "__main__":
    main()
