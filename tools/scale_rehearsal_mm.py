"""Multimodal 10× scale rehearsal (round-8 ask #5): extend the
shuffle/wall rehearsal to the binary DECODE rows, and measure the
Arrow batch-sizing guard directly.

Part 1 — decode entries at 10× payload count: the jpeg/png/gif/video
decode oracles synthesize payloads per ``documents`` row, so the
/tmp/scale10 fixture (10 id-shifted copies) yields exactly 10× the
payloads. Per query and scale we record wall seconds, rows, shuffle
and input bytes (Spark UI REST), plus the executor peak-memory
snapshot (JVM heap + python worker-tree RSS via processTreeMetrics).
Peaks are LIFETIME high-water marks — monotonic across queries — so
they are recorded as cumulative checkpoints: the meaningful claim is
that the FINAL high-water after all sf0.1+10× decode runs stays at
~32 resident workers × bounded per-worker RSS, not growing with
corpus size; per-query attribution is not possible from this metric.
Decode is embarrassingly parallel — wall growth should be ~linear and
shuffle ~zero beyond the tiny result rows.

Part 2 — the ``maxRecordsPerBatch`` guard (SCALING.md, Multimodal):
with MB-scale payloads the claim is that Arrow batch memory is
bounded by records-per-batch, not partition size. We synthesize 96
incompressible ~0.75 MB PNGs in 4 partitions (24 rows each) and run
the SAME decode under maxRecordsPerBatch = 4 vs 10000, measuring
inside the worker: the max pandas batch rows actually delivered and
the worker's peak RSS (resource.ru_maxrss). The low setting must cap
batch rows at 4 and hold peak RSS well below the high setting's.

Output: SCALING_REHEARSAL_MM.json + markdown on stdout (for
SCALING.md).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_rehearsal import (  # noqa: E402
    SCALE10, SF01, build_fixture, run_one,
)

from sqlpp_spark.queries import REGISTRY, _ensure_loaded  # noqa: E402

MM_QUERIES = [
    "multimodal_jpeg_decode_oracle",
    "multimodal_png_decode_oracle",
    "multimodal_gif_decode_oracle",
    "multimodal_video_frames_oracle",
]


def executor_peaks(spark) -> dict:
    """Peak-memory snapshot over all executors (monotonic per executor
    lifetime — meaningful as 'high-water mark so far')."""
    base = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{base}/api/v1/applications"))
    url = f"{base}/api/v1/applications/{apps[0]['id']}/executors"
    peaks = {"jvm_heap_mb": 0.0, "python_rss_mb": 0.0}
    for ex in json.load(urllib.request.urlopen(url)):
        pm = ex.get("peakMemoryMetrics") or {}
        peaks["jvm_heap_mb"] = max(
            peaks["jvm_heap_mb"], pm.get("JVMHeapMemory", 0) / 2**20
        )
        peaks["python_rss_mb"] = max(
            peaks["python_rss_mb"],
            pm.get("ProcessTreePythonRSSMemory", 0) / 2**20,
        )
    return {k: round(v, 1) for k, v in peaks.items()}


def batch_guard_probe(spark, n_rows=96, side=512, n_parts=4) -> dict:
    """MB-scale payloads through decode_image with the worker itself
    reporting max batch rows and peak RSS, per maxRecordsPerBatch."""
    import numpy as np
    import pandas as pd

    from sqlpp_spark.ops import imagecodec as IC

    gen_schema = "media_id long, payload binary"

    def gen(batches):
        for pdf in batches:
            out = {"media_id": [], "payload": []}
            for mid in pdf["media_id"]:
                rng = np.random.default_rng(int(mid))
                img = rng.integers(0, 256, (side, side, 3), dtype=np.uint8)
                out["media_id"].append(int(mid))
                out["payload"].append(IC.encode_png(img, level=1))
            yield pd.DataFrame(out)

    probe_schema = "media_id long, decoded boolean, batch_rows long, rss_mb double"

    def decode_probe(batches):
        import resource

        from sqlpp_spark.ops.imagecodec import decode_png

        for pdf in batches:
            ok = []
            for payload in pdf["payload"]:
                arr = decode_png(bytes(payload))
                ok.append(arr.shape == (side, side, 3))
            rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "decoded": ok,
                "batch_rows": [len(pdf)] * len(pdf),
                "rss_mb": [rss] * len(pdf),
            })

    base = (
        spark.range(n_rows).repartition(n_parts)
        .selectExpr("id AS media_id")
        .mapInPandas(gen, gen_schema)
    )
    payload_mb = None
    results = {}
    for setting in (4, 10000):
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(setting)
        )
        t0 = time.perf_counter()
        rows = base.mapInPandas(decode_probe, probe_schema).collect()
        dt = time.perf_counter() - t0
        if payload_mb is None:
            import numpy as np  # noqa: F811

            one = base.limit(1).collect()[0]
            payload_mb = round(len(one.payload) / 2**20, 3)
        assert all(r.decoded for r in rows)
        results[f"maxRecordsPerBatch_{setting}"] = {
            "sec": round(dt, 2),
            "max_batch_rows": max(r.batch_rows for r in rows),
            "worker_peak_rss_mb": round(max(r.rss_mb for r in rows), 1),
        }
    spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    results["payload_mb"] = payload_mb
    results["rows"] = n_rows
    results["partitions"] = n_parts
    return results


def get_spark_mm():
    """The rehearsal session plus processTreeMetrics (a STATIC conf —
    python RSS in the executor peak snapshot needs it at JVM start)."""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scale_rehearsal_mm")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.executor.processTreeMetrics.enabled", "true")
        .getOrCreate()
    )


def knn_persist_crossover(spark, reps: int = 3) -> dict:
    """VERDICT r11 ask #3: knn_graph's shared probe frame persists
    MEMORY_AND_DISK — is that still right when the cache is the whole
    vector corpus? Measure, per embeddings rung (sf0.1 = 2k rows and
    the 10× fixture = 20k rows, auto √n cells): interleaved wall time
    with the persist ON vs OFF (persist_probes toggle), plus the
    persisted bytes actually held (UI REST /storage/rdd, read while
    the frame is pinned). The crossover exists if recompute ever
    beats the cache read; the policy statement lives in
    ops/similarity.knn_graph's source."""
    import statistics

    from sqlpp_spark.ops.similarity import knn_graph
    from sqlpp_spark.session import query_scope
    from sqlpp_spark.sources.tables import read_table

    def storage_bytes() -> dict:
        base = spark.sparkContext.uiWebUrl
        apps = json.load(
            urllib.request.urlopen(f"{base}/api/v1/applications"))
        url = f"{base}/api/v1/applications/{apps[0]['id']}/storage/rdd"
        mem = disk = 0
        for rdd in json.load(urllib.request.urlopen(url)):
            mem += rdd.get("memoryUsed", 0)
            disk += rdd.get("diskUsed", 0)
        return {"memory_mb": round(mem / 2**20, 2),
                "disk_mb": round(disk / 2**20, 2)}

    out = {}
    for rung, sf_dir in (("sf01", SF01), ("x10", SCALE10)):
        emb = read_table(spark, sf_dir, "embeddings")
        n = emb.count()

        def run(persist: bool) -> tuple:
            spark.catalog.clearCache()
            with query_scope(spark):
                t0 = time.perf_counter()
                g = knn_graph(emb, k=5, n_cells="auto", n_probe=2,
                              persist_probes=persist)
                rows = g.count()
                dt = time.perf_counter() - t0
                cached = storage_bytes() if persist else None
            return dt, rows, cached

        run(True)  # warm codegen for both plans
        run(False)
        on, off, cached = [], [], None
        for i in range(reps):
            if i % 2 == 0:
                a = run(True); b = run(False)
            else:
                b = run(False); a = run(True)
            on.append(a[0]); off.append(b[0]); cached = a[2]
        out[rung] = {
            "rows": n,
            "persist_on_s": round(statistics.median(on), 3),
            "persist_off_s": round(statistics.median(off), 3),
            "on_runs": [round(t, 3) for t in on],
            "off_runs": [round(t, 3) for t in off],
            "persisted": cached,
            "loadavg": round(os.getloadavg()[0], 2),
        }
        print("knn_persist_crossover", rung, json.dumps(out[rung]),
              flush=True)
    return out


def main() -> None:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(here, "SCALING_REHEARSAL_MM.json")
    if "--knn-crossover" in sys.argv:
        # incremental mode: run ONLY the knn persist probe and merge
        # into the existing rehearsal record
        spark = get_spark_mm()
        build_fixture(spark)
        _ensure_loaded()
        with open(out_path) as f:
            results = json.load(f)
        results["knn_persist_crossover"] = knn_persist_crossover(spark)
        with open(out_path, "w") as f:
            json.dump(results, f, indent=1)
        spark.stop()
        return
    spark = get_spark_mm()
    build_fixture(spark)
    _ensure_loaded()
    results = {}
    for name in MM_QUERIES:
        builder = REGISTRY[name].builder
        try:
            builder(spark, "/root/testdata/sf0.001").count()  # plan warmup
        except Exception:
            pass
        a = run_one(spark, builder, SF01)
        # peaks are LIFETIME high-water marks (monotonic across
        # queries) — record them as cumulative checkpoints, never as
        # per-query readings
        a["peaks_cumulative"] = executor_peaks(spark)
        b = run_one(spark, builder, SCALE10)
        b["peaks_cumulative"] = executor_peaks(spark)
        results[name] = {"sf01": a, "x10": b}
        print(name, json.dumps(results[name]), flush=True)

    results["arrow_batch_guard"] = batch_guard_probe(spark)
    print("arrow_batch_guard", json.dumps(results["arrow_batch_guard"]),
          flush=True)

    results["knn_persist_crossover"] = knn_persist_crossover(spark)

    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)

    print("\n| query | sf0.1 s | 10x s | ratio | 10x shuffle MB | cum. py RSS high-water MB |")
    print("|---|---|---|---|---|---|")
    for name in MM_QUERIES:
        r = results[name]
        sa, sb = r["sf01"], r["x10"]
        ratio = round(sb["sec"] / sa["sec"], 1) if sa["sec"] else None
        print(f"| {name} | {sa['sec']} | {sb['sec']} | {ratio} | "
              f"{sb['shuffle_mb']} | {sb['peaks_cumulative']['python_rss_mb']} |")
    spark.stop()


if __name__ == "__main__":
    main()
