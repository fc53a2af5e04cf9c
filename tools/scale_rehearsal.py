"""10× scale rehearsal (VERDICT r7 ask #3): empirically confirm the
"only hashes shuffle" claims by measuring wall time AND shuffle bytes
at sf0.1 vs a 10× synthetic corpus, per dedup/text/ANN/pipeline
headline row.

Fixture (/tmp/scale10, rebuilt if absent): 10 copies of sf0.1
``documents`` with per-copy ZIPF-SYNTHESIZED text (r19, r18 verdict
task 4: the earlier word-shuffle kept each original's word multiset,
which inflated the shingle document-frequency distribution the
Σdf²-driven ngram auto-strategy keys on — shuffle ratio x26 at sf1
was a fixture artifact). Each unseeded copy-doc keeps its original
LENGTH but draws words log-uniformly (Zipf s≈1) from the corpus'
top-8192 vocabulary with an xxhash64-keyed inverse CDF — realistic
head-heavy shingle df, unique text per (doc, copy), near-zero
cross-copy Jaccard. ~1% of docs stay seeded cross-copy near-dup
clusters (original order, one-word mutation). ``embeddings`` get the
deterministic per-copy coordinate perturbation. All transforms are
plain Spark SQL expressions, so the fixture is deterministic. Other
tables symlink to sf0.1.

Shuffle bytes come from the Spark UI REST API (the tool runs its own
session with the UI enabled): per query, the delta of
sum(shuffleWriteBytes) and sum(inputBytes) over completed stages.

Output: SCALING_REHEARSAL.json + a markdown table on stdout (pasted
into SCALING.md). A row whose shuffle-bytes ratio is far above 10×
is superlinear — named in the output.
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

from sqlpp_spark.queries import headline_queries  # noqa: E402
from sqlpp_spark.session import TABLES, query_scope  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SCALE10 = "/tmp/scale10"
COPIES = 10
ID_STRIDE = 10_000_000

QUERIES = [
    "text_stats",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash",
    "dedup_passages",
    "dedup_substring_rate",
    "text_boilerplate_filter",
    "pipeline_clean_corpus",
    "pipeline_web_prepare",
    "ann_bruteforce_topk",
    "ann_knn_graph",
]


def get_spark_with_ui() -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scale_rehearsal")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "true")  # REST metrics source
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )


def build_fixture(spark: SparkSession) -> None:
    if os.path.isdir(SCALE10):
        return
    os.makedirs(SCALE10)
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    # r19 (r18 verdict task 4): corpus vocabulary for the Zipf
    # synthesis — top-8192 words by frequency, one bounded job at
    # fixture-build time
    vocab = [
        r["w"] for r in (
            docs.select(F.explode(F.split("text", " ")).alias("w"))
            .groupBy("w").count()
            .orderBy(F.desc("count"), F.asc("w"))
            .limit(8192).collect()
        )
    ]
    nvocab = len(vocab)
    vlit = F.array(*[F.lit(w) for w in vocab])
    doc_parts, emb_parts = [], []
    for i in range(COPIES):
        words = F.split(F.col("text"), " ")
        # per-copy Zipf synthesis (r19): original length, words drawn
        # log-uniformly over rank (inverse CDF of Zipf s≈1:
        # rank = V^u) with an xxhash64-keyed uniform per position —
        # head-heavy Zipf head + Heaps rare tail; unique text per
        # (doc, copy). The earlier word-shuffle kept each doc's word
        # multiset and inflated shingle df (sf1 shuffle x26 artifact).
        did, ci = F.col("doc_id"), F.lit(i)
        # 70% of positions draw from the Zipf head (log-uniform rank
        # over the shared vocab); 30% draw Heaps-tail rare tokens from
        # a 1M-token space (df stays O(1) as the corpus grows) — real
        # corpora grow vocabulary, and without the tail EVERY shingle's
        # df scales with the corpus (the documented fixed-vocabulary
        # quadratic corner the prefix strategy cannot escape)
        zipf_word = lambda k: F.element_at(  # noqa: E731
            vlit,
            F.least(
                F.lit(nvocab),
                F.pow(
                    F.lit(float(nvocab)),
                    F.pmod(F.xxhash64(did, ci, k), F.lit(1_000_000))
                    / F.lit(1_000_000.0),
                ).cast("int"),
            ),
        )
        rare_word = lambda k: F.concat(  # noqa: E731
            F.lit("w"),
            F.pmod(F.xxhash64(did, ci, k, F.lit(13)),
                   F.lit(1_000_000)).cast("string"),
        )
        synth = F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(words), F.lit(1))),
                lambda k: F.when(
                    F.pmod(F.xxhash64(did, ci, k, F.lit(7)),
                           F.lit(10)) < 3,
                    rare_word(k),
                ).otherwise(zipf_word(k)),
            ),
            " ",
        )
        # r18 (r17 verdict task 5): SEED ~1% of docs as near-dup
        # clusters: those keep their ORIGINAL word order with one
        # copy-keyed word replaced, so each seeded doc forms a
        # 10-member cross-copy near-dup cluster (single-word edit ≈
        # 0.9+ shingle Jaccard on these corpus lengths) while never
        # being an EXACT duplicate.
        seeded = F.col("doc_id") % 100 == 7
        mutated = F.array_join(
            F.concat(
                F.slice(words, 1, i + 1),
                F.array(F.lit(f"sqlppseed{i}")),
                F.slice(words, i + 3, 1 << 20),
            ),
            " ",
        )
        text_i = F.when(seeded, mutated).otherwise(synth)
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * ID_STRIDE)).alias("doc_id"),
                text_i.alias("text"),
                "lang",
                "source",
                F.length(text_i).alias("n_chars"),
            )
        )
        perturbed = F.transform(
            F.col("embedding"),
            lambda v, j: (
                v
                + (
                    F.pmod(F.xxhash64(F.col("vec_id"), F.lit(i), j), F.lit(1000))
                    / F.lit(1000.0)
                    - F.lit(0.5)
                )
                * F.lit(0.1)
            ).cast("float"),
        )
        emb_parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * ID_STRIDE)).alias("vec_id"),
                perturbed.alias("embedding"),
                "label",
            )
        )
    d = doc_parts[0]
    for p in doc_parts[1:]:
        d = d.unionAll(p)
    e = emb_parts[0]
    for p in emb_parts[1:]:
        e = e.unionAll(p)
    d.coalesce(8).write.parquet(f"{SCALE10}/documents.parquet")
    e.coalesce(8).write.parquet(f"{SCALE10}/embeddings.parquet")
    for t in TABLES:
        if t in ("documents", "embeddings"):
            continue
        os.symlink(f"{SF01}/{t}.parquet", f"{SCALE10}/{t}.parquet")


def stage_totals(spark: SparkSession) -> dict:
    base = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{base}/api/v1/applications"))
    app_id = apps[0]["id"]
    tot = {"shuffle_write": 0, "input": 0}
    for status in ("complete", "failed"):
        url = f"{base}/api/v1/applications/{app_id}/stages?status={status}"
        for st in json.load(urllib.request.urlopen(url)):
            tot["shuffle_write"] += st.get("shuffleWriteBytes", 0)
            tot["input"] += st.get("inputBytes", 0)
    return tot


def run_one(spark, builder, sf_dir):
    spark.catalog.clearCache()
    before = stage_totals(spark)
    t0 = time.perf_counter()
    with query_scope(spark):
        n = builder(spark, sf_dir).count()
        dt = time.perf_counter() - t0
    after = stage_totals(spark)
    return {
        "sec": round(dt, 3),
        "rows": n,
        "shuffle_mb": round((after["shuffle_write"] - before["shuffle_write"]) / 2**20, 3),
        "input_mb": round((after["input"] - before["input"]) / 2**20, 3),
    }


def main() -> None:
    spark = get_spark_with_ui()
    build_fixture(spark)
    specs = headline_queries()
    targets = [(q, specs[q].builder) for q in QUERIES]
    # remedy variant: ann_knn_graph with n_cells grown with n, the
    # documented knob for keeping cell-bounded pairwise work linear
    from sqlpp_spark.ops import similarity as S
    from sqlpp_spark.sources.tables import read_table

    def knn_scaled_cells(spark, sf_dir):
        emb = read_table(spark, sf_dir, "embeddings")
        return S.knn_graph(emb, k=5, n_cells=160, n_probe=2, quantizer="pivot")

    results = {}
    for name, builder in targets:
        # warmup at sf0.001 compiles the plan shape
        try:
            builder(spark, "/root/testdata/sf0.001").count()
        except Exception:
            pass
        a = run_one(spark, builder, SF01)
        b = run_one(spark, builder, SCALE10)
        results[name] = {"sf01": a, "x10": b}
        print(name, json.dumps(results[name]), flush=True)
    a = run_one(spark, knn_scaled_cells, SF01)
    b = run_one(spark, knn_scaled_cells, SCALE10)
    results["ann_knn_graph_cells160"] = {"sf01": a, "x10": b}
    print("ann_knn_graph_cells160", json.dumps(results["ann_knn_graph_cells160"]), flush=True)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "SCALING_REHEARSAL.json"), "w") as f:
        json.dump(results, f, indent=1)
    print("\n| query | sf0.1 s | 10x s | s ratio | sf0.1 shuffle MB | 10x shuffle MB | shuffle ratio |")
    print("|---|---|---|---|---|---|---|")
    for name, r in results.items():
        sa, sb = r["sf01"], r["x10"]
        sr = round(sb["sec"] / sa["sec"], 1) if sa["sec"] else None
        shr = (
            round(sb["shuffle_mb"] / sa["shuffle_mb"], 1)
            if sa["shuffle_mb"]
            else None
        )
        print(
            f"| {name} | {sa['sec']} | {sb['sec']} | {sr} | "
            f"{sa['shuffle_mb']} | {sb['shuffle_mb']} | {shr} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
