"""Large-scale data-pipeline operators (beyond the reference surface):
deduplication, similarity search, text analysis, multimodal columns.

All hot paths are JVM-side `pyspark.sql.functions` compositions — no
row-at-a-time Python. Where Python is unavoidable (embedding math at
scale, multimodal decode) we use Arrow-batched Pandas UDFs.
"""

import re

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Guard CPU-bound expression stages (shingling, hashing, vector
    math) against under-parallelized scans: a small single-file input
    arrives as ONE partition, serializing the work on an N-core
    executor. Repartition to the cluster's default parallelism only in
    that case — at real scale the scan already yields ≥ that many
    splits (spark.sql.files.maxPartitionBytes) and this is a no-op, so
    no extra shuffle on the 100 TB path."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        # inputFiles() is a cheap driver-side plan walk: a plan reading
        # >= target files yields enough splits no matter what sits
        # above the scan, so the 100 TB path skips the precise probe.
        # HEURISTIC caveat: a coalesce(1)/repartition(1) ABOVE a
        # many-file scan defeats it (we skip, parallelism stays low) —
        # acceptable because sqlpp_spark never coalesces before the
        # CPU-bound stages this guards; callers that do should
        # repartition explicitly.
        try:
            files = df.inputFiles()
        except Exception:
            files = []
        if len(files) >= target:
            return df
        repart = _needs_repartition_metadata(df, target)
        if repart is None:
            # shuffle-free plan: df.rdd is a true metadata probe here
            # (partition count = scan splits; no query stages to run) —
            # it alone knows the count of derived narrow plans.
            repart = df.rdd.getNumPartitions() < target
        if repart:
            return df.repartition(target)
    except Exception:
        # Spark Connect has no RDD/sparkContext access; there the input
        # is a real cluster scan that maxPartitionBytes already splits
        pass
    return df


_SHUF_EXCH_ORIGIN = re.compile(
    r"(?<!Broadcast)Exchange .*?, (ENSURE_REQUIREMENTS|REPARTITION_BY_NUM|"
    r"REPARTITION_BY_COL|REBALANCE_PARTITIONS_BY_NONE|"
    r"REBALANCE_PARTITIONS_BY_COL)"
)
_NUM_BEFORE_ORIGIN = re.compile(r"(\d+)\)\s*,\s*REPARTITION_BY_NUM")


def _needs_repartition_metadata(df: DataFrame, target: int):
    """Job-free repartition decision for plans that contain a shuffle;
    ``None`` means the plan is shuffle-free (the caller may then use
    the precise ``.rdd`` probe, which runs no jobs on such plans).

    Under AQE, ``df.rdd.getNumPartitions()`` on a shuffle-bearing plan
    is NOT a metadata call: the final (coalesced) partition count only
    exists once the upstream query stages have RUN, so the probe
    executed part of the query at plan-build time and discarded the
    work (measured r19: 2 jobs / 18.7 s on a synthetic agg+join at
    sf0.1; 0.5–2.1 s inside each composed-pipeline builder, paid once
    per bench run — OPTIMIZATION_r19.md #11). Decide from driver-side
    metadata instead:

    - topmost (shallowest-printed) shuffle exchange is
      ``REPARTITION_BY_NUM(n)``: AQE never coalesces an explicitly
      numbered repartition, so the frame arrives with exactly ``n``
      partitions → repartition iff ``n < target``.
    - any other shuffle origin (ENSURE_REQUIREMENTS /
      REPARTITION_BY_COL / REBALANCE_*): AQE's parallelism-first
      coalescing shrinks below ``target`` only when the stage's data
      is small, so use the optimizer's size estimate: repartition iff
      estimated bytes < target × advisoryPartitionSizeInBytes.

    Decision-equivalent to the executing probe at both bench SFs on
    every probed call site (measured): the coalescable sites estimate
    0.1–1.1 MB (→ repartition; the probe answered 1 partition) and
    the numbered site is n=32 ≥ target (→ skip; the probe agreed). At
    100 TB the estimate is far above the threshold → skip, exactly as
    the probe would; the mid-band where the two heuristics could
    disagree errs toward one cheap extra exchange of a small frame
    rather than a serialized CPU stage."""
    qe = df._jdf.queryExecution()
    best = None  # (printed tree depth, origin, line)
    for line in qe.executedPlan().toString().splitlines():
        m = _SHUF_EXCH_ORIGIN.search(line)
        if m is not None and (best is None or m.start() < best[0]):
            best = (m.start(), m.group(1), line)
    if best is None:
        return None
    _, origin, line = best
    if origin == "REPARTITION_BY_NUM":
        m = _NUM_BEFORE_ORIGIN.search(line)
        if m is not None:
            return int(m.group(1)) < target
        # repartition(n, cols...) prints nested-paren exprs that defeat
        # the count regex: fall through to the size rule (conservative —
        # an unneeded repartition of a small frame is cheap, a
        # serialized CPU stage is not)
    size = int(str(qe.optimizedPlan().stats().sizeInBytes()))
    spark = df.sparkSession
    try:
        advisory = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(
                spark.conf.get(
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                    "64MB",
                )
            )
        )
    except Exception:
        advisory = 64 << 20
    return size < target * advisory


def observed_filter(df: DataFrame, cond, name: str = "filter"):
    """Filter with FREE observability: attach a named ``Observation``
    so total/kept/dropped row counts are recorded during the SAME
    action that materializes the result — no second pass over the
    data, which at 100 TB is the difference between 'we log our yield'
    and 'we re-scan the corpus to count'. Returns ``(filtered_df,
    observation)``; read ``observation.get`` AFTER an action ran.

    The pattern every quality gate in a production pipeline should
    wear: yields become monitorable per-stage for the cost of two agg
    expressions folded into the existing scan.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("total"),
        F.sum(cond.cast("long")).alias("kept"),
    )
    return observed.filter(cond), obs
