"""Temporal join operators: as-of join and bounded range join.

Neither exists as a Spark SQL primitive; both are staples of event
pipelines (feature lookup at event time, windowed context counts).

Scale design (100 TB):
- ``asof_join`` is the union+window formulation: tag both inputs, union,
  ONE shuffle on the join keys, then a running ``last(ignorenulls)``
  per partition. No range explosion, no per-row subquery, no driver
  loop — cost is a sort within each key partition, the same cost
  profile as any window aggregate. (A join-based formulation would
  build |left|×|right-per-key| intermediates and then re-aggregate.)
- ``range_count`` buckets the right side by ``window`` seconds and
  explodes each left row to its two covering buckets: the join becomes
  an equi-join on (keys, bucket) with a residual range filter — the
  classic bucketed range-join rewrite. Expansion factor is exactly 2
  on the left, independent of data size or window length.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqlpp_spark.session import own


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload: Sequence[str] = ("ts",),
    right_order: str | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """Backward-inclusive as-of join: every left row gains the payload
    columns of the latest right row with the same keys and
    ``right_ts <= left_ts`` (NULL when no such row). Ties on the right
    timestamp resolve to the largest ``right_order`` value.

    Output: all left columns + ``{prefix}{col}`` per payload column.
    """
    lstruct = T.StructType(left.schema.fields)
    pay_types = {c: right.schema[c].dataType for c in payload}
    l_tag = left.select(
        *[F.col(k) for k in on],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.struct(*left.columns).alias("__lrow"),
        *[F.lit(None).cast(pay_types[c]).alias(f"__r_{c}") for c in payload],
        *(
            [F.lit(None).cast(right.schema[right_order].dataType).alias("__rord")]
            if right_order
            else []
        ),
    )
    r_tag = right.select(
        *[F.col(k) for k in on],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(lstruct).alias("__lrow"),
        *[F.col(c).alias(f"__r_{c}") for c in payload],
        *([F.col(right_order).alias("__rord")] if right_order else []),
    )
    order: List = [F.col("__ts"), F.col("__is_left")]
    if right_order:
        order.append(F.col("__rord"))
    # right rows sort BEFORE left rows at equal ts (inclusive join);
    # running last(ignorenulls) sees exactly the rows at-or-before
    w = (
        W.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    u = l_tag.unionByName(r_tag)
    for c in payload:
        u = u.withColumn(f"__asof_{c}", F.last(f"__r_{c}", ignorenulls=True).over(w))
    # A NULL join key matches nothing in a real join (NULL != NULL),
    # but partitionBy groups all-NULL keys together — mask the asof
    # payload back to NULL for those rows to keep join semantics.
    any_key_null = None
    for k in on:
        cond = F.col(k).isNull()
        any_key_null = cond if any_key_null is None else (any_key_null | cond)
    out_cols = [F.col(f"__lrow.{c}").alias(c) for c in left.columns] + [
        F.when(any_key_null, F.lit(None).cast(pay_types[c]))
        .otherwise(F.col(f"__asof_{c}"))
        .alias(f"{prefix}{c}")
        for c in payload
    ]
    return u.filter(F.col("__is_left") == 1).select(*out_cols)


def range_count(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    window_seconds: int = 3600,
    count_col: str = "n_in_range",
) -> DataFrame:
    """Count, per left row, the right rows with the same keys whose
    timestamp falls in ``[left_ts - window, left_ts)`` — bucketed
    range-join rewrite (equi-join on (keys, bucket) + residual filter),
    so no per-key cross product ever materializes.
    """
    w_us = int(window_seconds) * 1_000_000
    # Unique row id so (a) duplicate left rows each get their OWN count
    # instead of the group total, and (b) the count join matches by
    # identity, never by (possibly NULL) payload columns. Only
    # (id, keys, ts) flows through the explode+join — payload columns
    # stay out of the bucketed join and move once, in the final
    # narrow id-equi-join.
    l_id = left.withColumn("__rid", F.monotonically_increasing_id())
    r_b = right.select(
        *[F.col(k) for k in on],
        F.col(right_ts).alias("__rts"),
        F.floor(F.unix_micros(F.col(right_ts)) / F.lit(w_us)).alias("__bucket"),
    )
    l_b = l_id.select("__rid", *on, F.col(left_ts).alias("__lts")).withColumn(
        "__bucket",
        F.explode(
            F.array(
                F.floor(F.unix_micros(F.col("__lts")) / F.lit(w_us)) - 1,
                F.floor(F.unix_micros(F.col("__lts")) / F.lit(w_us)),
            )
        ),
    )
    # NULL join keys never match (standard join semantics) -> count 0.
    joined = l_b.join(r_b, on=[*on, "__bucket"]).filter(
        (F.col("__rts") >= F.col("__lts") - F.expr(f"INTERVAL {window_seconds} SECOND"))
        & (F.col("__rts") < F.col("__lts"))
    )
    counts = joined.groupBy("__rid").agg(F.count(F.lit(1)).alias(count_col))
    return (
        l_id.join(counts, on="__rid", how="left")
        .withColumn(count_col, F.coalesce(F.col(count_col), F.lit(0)))
        .drop("__rid")
    )


def time_bucket(ts_col, bucket_seconds: int):
    """Integer bucket index of a timestamp (floor of epoch-micros over
    the bucket width). Computed as (x - pmod(x, w)) / w: pmod is always
    non-negative, so the numerator is the largest multiple of w that is
    <= x — true floor division even for negative (pre-1970) epochs,
    matching the oracle's ``//`` (Spark's ``%`` follows the dividend's
    sign and would truncate toward zero there). The numerator is an
    exact multiple of w, so the double division is exactly the integer
    quotient — no float-boundary misbucketing."""
    w = F.lit(int(bucket_seconds) * 1_000_000)
    x = F.unix_micros(ts_col)
    return ((x - F.pmod(x, w)) / w).cast("bigint")


def gapfill(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_seconds: int = 3600,
    method: str = "locf",
) -> DataFrame:
    """Hypertable-style gap-filled rollup (TimescaleDB ``time_bucket_
    gapfill`` semantics): bucket rows per group, then densify every
    group's [min_bucket, max_bucket] range and fill empty buckets —
    ``locf`` carries the last observed sum forward, ``interpolate``
    linearly interpolates interior gaps (leading/trailing stay NULL),
    ``none`` leaves gaps NULL.

    Output: group cols, ``bucket_ts`` timestamp, ``pos`` bucket index,
    ``n_events`` (0 on gaps), ``bucket_value`` double.

    Scale design (100 TB): the aggregate is a partial-aggregable
    groupBy on (group, bucket) — per-group partials move, not rows.
    The dense grid is ``sequence(min,max)`` exploded per GROUP — its
    size is (time span / bucket) × |groups|, independent of row count,
    and it joins back on the same (group, bucket) key so AQE reuses
    the aggregate's partitioning. Fill is one window per group ordered
    by bucket index — the same shuffle key again; nothing rescans raw.
    Values aggregate as exact DECIMAL(18,2) so the filled doubles are
    bit-stable under any partitioning; interpolation divides integer
    bucket distances — identical IEEE sequence in any engine.
    """
    from pyspark import StorageLevel

    gcols = list(group_cols)
    b = df.groupBy(
        *gcols, time_bucket(F.col(ts_col), bucket_seconds).alias("pos")
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__v"),
    )
    # b feeds two consumers (the extent agg and the grid join); without
    # a persist both recompute the raw-table aggregate — two full scans
    # at 100 TB. The persisted frame is narrow: group, pos, two aggs.
    b = own(b.persist(StorageLevel.MEMORY_AND_DISK))
    ext = b.groupBy(*gcols).agg(
        F.min("pos").alias("__mn"), F.max("pos").alias("__mx")
    )
    grid = ext.select(
        *gcols, F.explode(F.sequence("__mn", "__mx")).alias("pos")
    )
    j = grid.join(b, on=[*gcols, "pos"], how="left")
    w_back = (
        W.partitionBy(*gcols)
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_fwd = (
        W.partitionBy(*gcols)
        .orderBy("pos")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    vd = F.col("__v").cast("double")
    if method == "locf":
        filled = F.last(vd, ignorenulls=True).over(w_back)
    elif method == "interpolate":
        prev_v = F.last(vd, ignorenulls=True).over(w_back)
        prev_p = F.last(
            F.when(F.col("__v").isNotNull(), F.col("pos")), ignorenulls=True
        ).over(w_back)
        next_v = F.first(vd, ignorenulls=True).over(w_fwd)
        next_p = F.first(
            F.when(F.col("__v").isNotNull(), F.col("pos")), ignorenulls=True
        ).over(w_fwd)
        filled = F.when(F.col("__v").isNotNull(), vd).otherwise(
            prev_v
            + (next_v - prev_v)
            * ((F.col("pos") - prev_p) / (next_p - prev_p))
        )
    elif method == "none":
        filled = vd
    else:  # pragma: no cover - caller bug
        raise ValueError(f"unknown gapfill method: {method}")
    out = j.select(
        *gcols,
        F.timestamp_seconds(F.col("pos") * F.lit(int(bucket_seconds))).alias(
            "bucket_ts"
        ),
        "pos",
        F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("n_events"),
        filled.alias("bucket_value"),
    )
    return out


def rollup_cascade(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    levels: Sequence[int] = (900, 3600, 86400),
) -> DataFrame:
    """Continuous-aggregate cascade (TimescaleDB continuous aggregates
    / materialized rollup chains): aggregate raw rows once at the
    finest resolution, then derive every coarser level by
    RE-AGGREGATING the previous level — never rescanning raw data.
    ``levels`` are bucket widths in seconds, finest first; each must
    divide the next. Returns the coarsest level: group cols,
    ``bucket_ts``, ``n_events``, ``sum_value``, ``min_value``,
    ``max_value``, ``avg_value``.

    Scale design (100 TB): only the first aggregation touches raw
    rows; its output is |groups| × (span/finest) — typically 4-6
    orders of magnitude smaller. Each cascade step shuffles that
    rollup, not raw. All four statistics are re-aggregation-closed
    (sum of sums, sum of counts, min of mins, max of maxes); avg is
    derived at the end as sum/count, so the cascade is EXACTLY equal
    to a direct aggregate — pinned by the DuckDB oracle computing the
    daily level straight from raw. Sums stay DECIMAL(18,2) through
    every level; the one double division happens once at the end.
    """
    gcols = list(group_cols)
    for i, width in enumerate(levels):
        if i == 0:
            cur = df.groupBy(
                *gcols, time_bucket(F.col(ts_col), width).alias("__fine")
            ).agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__s"),
                F.min(F.col(value_col)).alias("__mn"),
                F.max(F.col(value_col)).alias("__mx"),
            )
            fine = width
        else:
            if width % fine != 0:  # pragma: no cover - caller bug
                raise ValueError(f"level {width} not a multiple of {fine}")
            cur = cur.groupBy(
                *gcols,
                F.floor(F.col("__fine") / F.lit(width // fine)).alias("__fine"),
            ).agg(
                F.sum("__n").alias("__n"),
                F.sum("__s").alias("__s"),
                F.min("__mn").alias("__mn"),
                F.max("__mx").alias("__mx"),
            )
            fine = width
    return cur.select(
        *gcols,
        F.timestamp_seconds(F.col("__fine") * F.lit(int(fine))).alias("bucket_ts"),
        F.col("__n").cast("bigint").alias("n_events"),
        F.col("__s").cast("double").alias("sum_value"),
        F.col("__mn").alias("min_value"),
        F.col("__mx").alias("max_value"),
        (F.col("__s").cast("double") / F.col("__n")).alias("avg_value"),
    )


def funnel(
    df: DataFrame,
    steps: Sequence[tuple],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-funnel analysis: for each user, the earliest time they
    completed each step IN ORDER, where ``steps`` is
    ``[(event_type, None), (event_type, window_seconds), ...]`` — step
    k must occur at-or-after step k-1's timestamp and (when a window is
    given) strictly within ``window_seconds`` of it. Users who stall at
    step k carry NULLs for every later step (kept, left-join
    semantics — funnel drop-off is the signal, not noise).

    Output: user col + ``t1..tN`` timestamps.

    Scale design (100 TB): one narrow per-user aggregate per step,
    every shuffle keyed on the SAME user column (AQE reuses the
    partitioning); each step's input is pre-filtered to one event type
    at the scan (predicate pushdown), so step k joins |users-at-k-1|
    against one type's rows — never the whole event stream, and never
    a per-user sort of all events.
    """
    out = None
    prev_t = None
    for i, (etype, win) in enumerate(steps, start=1):
        ev = df.filter(F.col(type_col) == etype).select(
            F.col(user_col), F.col(ts_col).alias("__ts")
        )
        if i == 1:
            step = ev.groupBy(user_col).agg(F.min("__ts").alias("t1"))
            out = step
        else:
            cond = F.col("__ts") >= F.col(prev_t)
            if win is not None:
                cond = cond & (
                    F.col("__ts")
                    < F.col(prev_t) + F.expr(f"INTERVAL {int(win)} SECOND")
                )
            step = (
                ev.join(out.select(user_col, prev_t), on=user_col)
                .filter(cond)
                .groupBy(user_col)
                .agg(F.min("__ts").alias(f"t{i}"))
            )
            out = out.join(step, on=user_col, how="left")
        prev_t = f"t{i}"
    return out


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    bucket_seconds: int = 604800,
) -> DataFrame:
    """Cohort retention: users grouped by the bucket (default: week) of
    their FIRST event; for each (cohort, offset) the number of distinct
    cohort members active ``offset`` buckets after joining.

    Output: ``cohort_ts`` timestamp, ``week_offset`` bigint,
    ``n_users`` bigint, ``retention`` double (n_users / cohort size).

    Scale design (100 TB): first-event and activity are both per-user
    partial aggregates on the same user key; the join carries only
    (user, cohort) ints; the final rollup is |cohorts| × |offsets|
    rows. No window over raw events, nothing driver-side.
    """
    first = df.groupBy(user_col).agg(
        F.min(time_bucket(F.col(ts_col), bucket_seconds)).alias("__cohort")
    )
    active = df.select(
        F.col(user_col), time_bucket(F.col(ts_col), bucket_seconds).alias("__w")
    ).distinct()
    joined = active.join(first, on=user_col)
    ret = joined.groupBy(
        "__cohort", (F.col("__w") - F.col("__cohort")).alias("week_offset")
    ).agg(F.countDistinct(user_col).alias("n_users"))
    size = joined.filter(F.col("__w") == F.col("__cohort")).groupBy(
        "__cohort"
    ).agg(F.countDistinct(user_col).alias("__size"))
    return (
        ret.join(size, on="__cohort")
        .select(
            F.timestamp_seconds(
                F.col("__cohort") * F.lit(int(bucket_seconds))
            ).alias("cohort_ts"),
            "week_offset",
            F.col("n_users").cast("bigint").alias("n_users"),
            (F.col("n_users").cast("double") / F.col("__size")).alias("retention"),
        )
    )


def pointintime_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str],
    fact_ts: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    payload: Sequence[str] = (),
    prefix: str = "dim_",
) -> DataFrame:
    """Point-in-time dimension join (the label-leakage-safe feature
    join): each fact row joins the dimension VERSION that was valid at
    the fact's timestamp — ``valid_from <= ts < valid_to`` with an
    open-ended current version (``valid_to IS NULL``). Facts with no
    valid version at their timestamp keep NULL payloads (left join).

    Output: all fact columns + ``{prefix}{col}`` per payload column.

    Scale design (100 TB): SCD2 versions are non-overlapping per key,
    so at most ONE dimension row matches each fact row — the join
    cannot multiply facts. The equality key drives a hash join
    (broadcast for dimension-sized sides); the validity interval is a
    residual filter evaluated inside the join, never a range explosion.

    Hot business keys (r14 rehearsal, tools/pit_skew_rehearsal.py):
    with the dimension broadcast, fact-key skew is structurally
    irrelevant — no shuffle by key happens (one key owning 20% of 2M
    facts measured task max/med 1.31, same as uniform). When the
    dimension is too big to broadcast, the shuffled join relies on
    AQE skew-join splitting (measured: reduce READ max/med 2.6 but
    task TIME max/med 1.03 — no straggler). If AQE is unavailable,
    salt the equality key (ops/partitioning.py salted_join) and apply
    the validity residual post-join.
    """
    keys = list(on)
    dcols = [F.col(k).alias(f"__d_{k}") for k in keys] + [
        F.col(valid_from).alias("__vf"),
        F.col(valid_to).alias("__vt"),
        *[F.col(c).alias(f"{prefix}{c}") for c in payload],
    ]
    d = dim.select(*dcols)
    cond = None
    for k in keys:
        c = F.col(k) == F.col(f"__d_{k}")
        cond = c if cond is None else (cond & c)
    cond = (
        cond
        & (F.col(fact_ts) >= F.col("__vf"))
        & (F.col("__vt").isNull() | (F.col(fact_ts) < F.col("__vt")))
    )
    return fact.join(d, on=cond, how="left").drop(
        *[f"__d_{k}" for k in keys], "__vf", "__vt"
    )
