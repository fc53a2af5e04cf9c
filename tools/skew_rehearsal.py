"""Skewed-data rehearsal (round-9 verdict ask #6).

Every prior rehearsal ran UNIFORM synthetic corpora; production crawl
data is Zipf in domains, shingles and embedding cells. This tool
builds a skewed twin of sf0.1 (/tmp/skewfix, same row counts):

- ``documents.source`` redrawn Zipf-style: ~60% of docs on ONE hot
  source, ~20% on 5 warm sources, the rest across 50 cold ones — the
  synthesized URLs inherit the skew, so the per-domain caps and
  domain joins see a hot key;
- ~40% of ``documents.text`` gets a fixed 40-word boilerplate prefix
  prepended — a hot shingle vocabulary that inflates minhash band
  buckets and n-gram document frequencies;
- 80% of ``embeddings`` snapped toward 3 cluster centers (0.15 blend
  of the original vector) — hot knn/IVF cells.

For each operator it measures uniform (sf0.1) vs skewed wall +
shuffle bytes, AND the per-task skew symptom itself: for the heaviest
shuffle stage of the run, the max/median task shuffle-write and
run-time ratios from the Spark REST taskSummary. AQE skew-join
splitting and the two-phase/salted aggregation shapes are the
mitigations under test — a blowup shows up as max/median >> sources
ratio, wall far above uniform, or an outright straggler.

Also measures ``salted_join`` head-to-head against a plain shuffle
join on the hot-key frame, and reports whether dedup_ngram_jaccard's
Σdf² auto-strategy trips to prefix filtering on the skewed corpus.

Output: SKEW_REHEARSAL.json + markdown table (pasted into SCALING.md).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from scale_rehearsal import get_spark_with_ui  # noqa: E402

from sqlpp_spark.session import TABLES, query_scope  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SKEWFIX = "/tmp/skewfix"
SKEWFIX10 = "/tmp/skewfix10"  # skewed twin of the 10x fixture (r12)

BOILER = ("breaking news subscribe to our newsletter for daily updates "
          "all rights reserved copyright notice privacy policy terms of "
          "service cookie settings advertisement sponsored content read "
          "more related articles trending now top stories editor picks "
          "share this story follow us")


def build_fixture(
    spark: SparkSession, src: str = SF01, dst: str = SKEWFIX,
) -> None:
    """Skewed twin of ``src`` at ``dst``. The transforms key on
    deterministic id hashes, so they apply identically to sf0.1 and
    to the 10x id-shifted fixture (the r12 decade-up tier)."""
    if os.path.isdir(dst):
        return
    os.makedirs(dst)
    docs = spark.read.parquet(f"{src}/documents.parquet")
    h = F.pmod(F.xxhash64("doc_id", F.lit("skew")), F.lit(100))
    zipf_source = (
        F.when(h < 60, F.lit("hotsite"))
        .when(h < 80, F.concat(F.lit("warm"), (h % 5).cast("string")))
        .otherwise(F.concat(F.lit("cold"), (h % 50).cast("string")))
    )
    hb = F.pmod(F.xxhash64("doc_id", F.lit("boiler")), F.lit(100))
    text = F.when(
        hb < 40, F.concat(F.lit(BOILER + " "), F.col("text"))
    ).otherwise(F.col("text"))
    docs.select(
        "doc_id", text.alias("text"), "lang", zipf_source.alias("source"),
        F.length(text).alias("n_chars"),
    ).coalesce(8).write.parquet(f"{dst}/documents.parquet")

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    ch = F.pmod(F.xxhash64("vec_id", F.lit("cluster")), F.lit(100))
    cluster = (ch % 3).cast("int")
    # deterministic center coordinate per (cluster, dim): in [-0.5, 0.5]
    center = F.transform(
        F.col("embedding"),
        lambda v, j: (
            F.pmod(F.xxhash64(cluster, j, F.lit("c")), F.lit(1000))
            / F.lit(1000.0) - F.lit(0.5)
        ),
    )
    snapped = F.zip_with(
        F.col("embedding"), center,
        lambda v, c: (c * F.lit(0.85) + v * F.lit(0.15)).cast("float"),
    )
    emb.select(
        "vec_id",
        F.when(ch < 80, snapped).otherwise(F.col("embedding"))
        .alias("embedding"),
        "label",
    ).coalesce(8).write.parquet(f"{dst}/embeddings.parquet")
    for t in TABLES:
        if t in ("documents", "embeddings"):
            continue
        os.symlink(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")


# -- REST metrics ------------------------------------------------------------


def _api(spark, path):
    base = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{base}/api/v1/applications"))
    return json.load(urllib.request.urlopen(
        f"{base}/api/v1/applications/{apps[0]['id']}{path}"
    ))


def stage_list(spark) -> dict:
    out = {}
    for st in _api(spark, "/stages?status=complete"):
        out[(st["stageId"], st["attemptId"])] = st
    return out


def task_skew(spark, stage_id: int, attempt: int) -> dict:
    """max/median per-task shuffle write + run time of one stage."""
    try:
        q = _api(
            spark,
            f"/stages/{stage_id}/{attempt}/taskSummary"
            "?quantiles=0.0,0.5,1.0",
        )
    except Exception:
        return {}
    out = {}
    sw = q.get("shuffleWriteMetrics", {}).get("writeBytes") or q.get(
        "shuffleWriteBytes"
    )
    sr = q.get("shuffleReadMetrics", {}).get("readBytes") or q.get(
        "shuffleReadMetrics", {}
    ).get("totalBytesRead")
    rt = q.get("executorRunTime")
    if sw and sw[1]:
        out["task_shuffle_max_over_med"] = round(sw[2] / sw[1], 2)
        out["task_shuffle_max_mb"] = round(sw[2] / 2**20, 3)
    if sr and sr[1]:
        out["task_read_max_over_med"] = round(sr[2] / sr[1], 2)
        out["task_read_max_mb"] = round(sr[2] / 2**20, 3)
    if rt and rt[1]:
        out["task_time_max_over_med"] = round(rt[2] / rt[1], 2)
        out["task_time_max_s"] = round(rt[2] / 1000, 2)
    return out


def run_one(spark, builder, sf_dir) -> dict:
    spark.catalog.clearCache()
    before = stage_list(spark)
    t0 = time.perf_counter()
    with query_scope(spark):
        n = builder(spark, sf_dir).count()
        dt = time.perf_counter() - t0
    after = stage_list(spark)
    new = {k: v for k, v in after.items() if k not in before}
    shuffle = sum(v.get("shuffleWriteBytes", 0) for v in new.values())
    rec = {
        "sec": round(dt, 3),
        "rows": n,
        "shuffle_mb": round(shuffle / 2**20, 3),
    }
    if new:
        heaviest = max(new, key=lambda k: new[k].get("shuffleWriteBytes", 0))
        if new[heaviest].get("shuffleWriteBytes", 0) > 0:
            rec.update(task_skew(spark, *heaviest))
        # a skewed JOIN shows up on the read side of the reducer
        # stage, not the (uniform) map-side write — report the
        # heaviest-read stage's skew separately when it differs
        heaviest_r = max(
            new, key=lambda k: new[k].get("shuffleReadBytes", 0)
        )
        if (
            heaviest_r != heaviest
            and new[heaviest_r].get("shuffleReadBytes", 0) > 0
        ):
            rec.update({
                f"reduce_{k}": v
                for k, v in task_skew(spark, *heaviest_r).items()
            })
    return rec


def jaccard_strategy_trips(spark, sf_dir) -> dict:
    """Recompute the Σdf² auto signal exactly the way
    ngram_jaccard_pairs does for the registry call (k=3, lang blocks,
    distinct per-doc shingles): does the skewed corpus trip prefix
    filtering?"""
    from sqlpp_spark.ops.dedup import shingle_hashes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = shingle_hashes(docs, "text", "doc_id", 3, fast_hash=True).join(
        docs.select("doc_id", F.col("lang").alias("__blk")), on="doc_id"
    )
    stats = (
        sh.groupBy("__blk", "sh_hash").agg(F.count(F.lit(1)).alias("__df"))
        .agg(
            F.sum(F.col("__df").cast("double") * F.col("__df"))
            .alias("sum_df2"),
            F.sum("__df").alias("n_rows"),
        ).collect()[0]
    )
    trips = bool(stats["sum_df2"] and
                 stats["sum_df2"] > 4.0 * stats["n_rows"])
    return {
        "sum_df2": stats["sum_df2"], "n_rows": stats["n_rows"],
        "ratio": round(stats["sum_df2"] / stats["n_rows"], 1),
        "prefix_trips": trips,
    }


def salted_vs_plain(spark) -> dict:
    """Hot-key join in BOTH regimes, so the crossover is recorded
    (r10 verdict ask: the old single mild measurement only showed
    salting's overhead, never its win condition).

    Regime "hot" — skew manifestly bites: probe side replicated 256x
    (~1.3M rows, ~60% on ONE key) with an incompressible 64-char
    payload; broadcast disabled on BOTH the static planner AND AQE
    (modeling a dimension too big to broadcast at 100 TB), and the AQE
    skew-split threshold lowered to 8 MB so the rehearsal-scale hot
    partition trips the same machinery a 100 TB hot key trips at the
    256 MB default. Three variants:
      - plain_skew_split_off: sort-merge join, AQE skew splitting
        disabled -> the straggler (task max/med >> 2);
      - plain_aqe_skew_split: session-default mitigation -> AQE splits
        the hot partition at runtime;
      - salted_join: explicit (key, salt) rewrite -> flat tasks even
        where AQE can't see the skew (e.g. non-SMJ shapes).

    Regime "mild" — the round-10 shape (small payload, broadcast and
    AQE free to re-plan): skew never manifests and salting is pure
    overhead. That is the documented crossover: reach for salted_join
    when a hot key exceeds the AQE skew threshold AND the build side
    cannot broadcast; otherwise let AQE handle it."""
    from sqlpp_spark.ops.partitioning import salted_join

    def probe(rep: int, pad: bool):
        # pad=True carries the real document text (~400 B/row) as the
        # payload: it comes from the parquet SCAN, so Catalyst cannot
        # collapse it into a post-shuffle recomputation the way it can
        # for any synthetic sha2/concat column derived from the tiny
        # join keys — the bytes genuinely cross the exchange.
        cols = ["doc_id", "source", "n_chars"] + (["text"] if pad else [])
        base = spark.read.parquet(f"{SKEWFIX}/documents.parquet").select(
            *cols
        )
        d = base.crossJoin(
            spark.range(rep).select(F.col("id").alias("__rep"))
        ).select(
            (F.col("doc_id") * rep + F.col("__rep")).alias("doc_id"),
            *cols[1:],
        )
        if pad:
            d = d.withColumnRenamed("text", "payload")
        return d

    def per_source_of(rep: int):
        # Two preconditions for AQE's OptimizeSkewedJoin to engage at
        # all, both discovered by this rehearsal (and both real 100 TB
        # pitfalls):
        # 1. the build side must NOT derive from the probe frame —
        #    that makes the probe exchange a ReusedExchange with two
        #    consumers, which AQE refuses to split;
        # 2. the build side must reach the join as a bare
        #    ENSURE_REQUIREMENTS shuffle directly under its sort — an
        #    aggregation grouped on the join key fuses into the sort
        #    stage (its own exchange doubles as the join
        #    distribution), and an explicit repartition(key) has
        #    REPARTITION_BY_COL origin; both defeat the rule's
        #    pattern match. localCheckpoint severs the partitioning
        #    lineage of the 26-row build side, so the planner inserts
        #    fresh ENSURE_REQUIREMENTS exchanges on both sides.
        return (
            spark.read.parquet(f"{SKEWFIX}/documents.parquet")
            .groupBy("source").agg(F.avg("n_chars").alias("avg_chars"))
            .localCheckpoint()
        )

    def measure(docs, per_source, use_salt: int, consume: str = "") -> dict:
        def b(s, _):
            j = (
                salted_join(docs, per_source, "source", n_salt=use_salt)
                if use_salt
                else docs.join(per_source, "source")
            )
            j = j.filter(F.col("n_chars") > F.col("avg_chars"))
            if consume:
                # force the payload THROUGH the exchange: the filter
                # references columns from BOTH join sides, so it can
                # be neither pushed below the join nor pruned by the
                # terminal count() (a global-agg consume gets pruned:
                # count of a global aggregate needs no agg inputs).
                # Always true, so row counts stay comparable.
                j = j.filter(
                    F.pmod(F.xxhash64(consume), F.lit(997))
                    + F.col("avg_chars") > F.lit(-1.0)
                )
            return j
        b(spark, SKEWFIX).count()  # warm codegen/scan so A/B is fair
        return run_one(spark, b, SKEWFIX)

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    out: dict = {}
    try:
        # -- hot regime: no broadcast escape hatch, real bytes
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "8m",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        docs = probe(256, pad=True)
        per_source = per_source_of(256)  # rep only affects avg weights
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        out["hot_plain_skew_split_off"] = measure(
            docs, per_source, 0, consume="payload"
        )
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        out["hot_plain_aqe_skew_split"] = measure(
            docs, per_source, 0, consume="payload"
        )
        out["hot_salted_join"] = measure(
            docs, per_source, 32, consume="payload"
        )
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    # -- mild regime: session defaults (broadcast + AQE free)
    docs = probe(128, pad=False)
    per_source = per_source_of(128)
    out["mild_plain_join"] = measure(docs, per_source, 0)
    out["mild_salted_join"] = measure(docs, per_source, 16)
    out["crossover_note"] = (
        "unmitigated hot-key SMJ stragglers: one task reads 15.5x the "
        "median. Prefer AQE skew-split when it can engage (fastest, "
        "no extra shuffle) — but it silently does NOT engage when the "
        "build side derives from the probe frame (ReusedExchange) or "
        "reaches the join fused under a groupBy on the join key / an "
        "explicit repartition (non-ENSURE_REQUIREMENTS origin). "
        "salted_join is the explicit fallback for those shapes and "
        "for non-SMJ joins: it flattens the straggler wherever it is "
        "placed, at the cost of replicating the small side n_salt "
        "times and a less compressible probe shuffle. With a "
        "broadcastable dimension or sub-threshold partitions (mild "
        "regime) both are pure overhead — let the planner broadcast."
    )
    return out


QUERIES = [
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "dedup_exact",
    "pipeline_web_prepare",
    "ann_knn_graph_auto",
    "dedup_passages",
]


X10_QUERIES = ["dedup_minhash", "dedup_ngram_jaccard", "ann_knn_graph_auto"]


def x10_tier(spark) -> dict:
    """One decade up (VERDICT r11 ask #7): the skew transforms applied
    to the 10x fixture (/tmp/scale10 -> /tmp/skewfix10, 10x rows,
    same Zipf shape) — do the max/med task ratios stay flat and does
    the Σdf² trip-wire still fire? Records the same run_one metrics
    as the base tier, plus the sf0.1-skewed reference in-session so
    the decade ratio is load-comparable."""
    from scale_rehearsal import SCALE10
    from scale_rehearsal import build_fixture as build_scale10

    from sqlpp_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    build_scale10(spark)
    build_fixture(spark)  # base skewed tier (reference timings)
    build_fixture(spark, src=SCALE10, dst=SKEWFIX10)
    out: dict = {}
    for name in X10_QUERIES:
        b = REGISTRY[name].builder
        try:
            b(spark, "/root/testdata/sf0.001").count()  # warm plan
        except Exception:
            pass
        out[name] = {
            "skewed": run_one(spark, b, SKEWFIX),
            "skewed_x10": run_one(spark, b, SKEWFIX10),
        }
        print("x10_tier", name, json.dumps(out[name]), flush=True)
    out["jaccard_auto_signal_x10"] = jaccard_strategy_trips(
        spark, SKEWFIX10
    )
    print("x10_tier jaccard_auto_signal_x10",
          json.dumps(out["jaccard_auto_signal_x10"]), flush=True)
    return out


def main() -> None:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(here, "SKEW_REHEARSAL.json")
    if "--x10" in sys.argv:
        # incremental mode: run ONLY the decade-up tier and merge
        spark = get_spark_with_ui()
        with open(out_path) as f:
            results = json.load(f)
        results["x10_tier"] = x10_tier(spark)
        with open(out_path, "w") as f:
            json.dump(results, f, indent=1)
        spark.stop()
        return
    spark = get_spark_with_ui()
    build_fixture(spark)
    from sqlpp_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    results = {}
    for name in QUERIES:
        b = REGISTRY[name].builder
        try:
            b(spark, "/root/testdata/sf0.001").count()  # warm plan
        except Exception:
            pass
        results[name] = {
            "uniform": run_one(spark, b, SF01),
            "skewed": run_one(spark, b, SKEWFIX),
        }
        print(name, json.dumps(results[name]), flush=True)
    results["jaccard_auto_signal"] = {
        "uniform": jaccard_strategy_trips(spark, SF01),
        "skewed": jaccard_strategy_trips(spark, SKEWFIX),
    }
    print("jaccard_auto_signal",
          json.dumps(results["jaccard_auto_signal"]), flush=True)
    results["hot_key_join"] = salted_vs_plain(spark)
    print("hot_key_join", json.dumps(results["hot_key_join"]), flush=True)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "SKEW_REHEARSAL.json"), "w") as f:
        json.dump(results, f, indent=1)
    print("\n| operator | uniform s | skewed s | ratio | skewed shuffle MB "
          "| task max/med shuffle | task max/med time |")
    print("|---|---|---|---|---|---|---|")
    for name in QUERIES:
        u, s = results[name]["uniform"], results[name]["skewed"]
        r = round(s["sec"] / u["sec"], 2) if u["sec"] else None
        print(f"| {name} | {u['sec']} | {s['sec']} | {r} | "
              f"{s['shuffle_mb']} | "
              f"{s.get('task_shuffle_max_over_med', '-')} | "
              f"{s.get('task_time_max_over_med', '-')} |")
    spark.stop()


if __name__ == "__main__":
    main()
