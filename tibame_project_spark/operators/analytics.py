"""Event-analytics operators: gap-filled time series, cohort retention,
ordered funnels, distribution stats.

These extend the reference's daily-rollup marts (the gmaps review-trend
mart, ``airflow/dags/gmaps/d_gmaps_mart_review_trends.py:60-100``, is a
calendar-keyed aggregate; the populartimes 7×24 matrix,
``populartimes/crawler.py:215-269``, is a dense time grid) with the
standard event-warehouse queries a serving layer expects on top of them.

Scale stance, per operator:

- ``gap_fill``: ONE shuffle. Each key's observations are packed into a
  day→values map inside the same aggregation that computes the spine
  bounds; the dense calendar is then ``sequence()``-exploded from that
  one-row-per-key frame and values looked up map-side — no (key, day)
  equi-join, whose hash(key, day) partitioning the forward-fill window
  (hash(key)) could not reuse. The fill window runs on the aggregation's
  own partitioning, so Catalyst inserts only a local sort, no exchange
  (plan-asserted in tests). Memory bound: one key's observed days live in
  one map — bounded by the series length per key (calendar days), not by
  row count.
- ``cohort_retention``: two hash aggregations (first-touch per user, then
  cohort × offset counts) — both with map-side partial aggregation; the
  join of events to first-touch is on user_id and broadcastable when the
  user dim is small, shuffle-hash otherwise.
- ``funnel_conversion``: one shuffle on the entity key; the staged
  min-timestamps are unordered whole-partition window aggregates (no sort
  within the partition — Spark plans WindowExec without a sort for
  frame-less aggregate windows), evaluated in sequence on the same
  exchange.
- ``histogram_fixed``: pure map-side arithmetic + one aggregation on the
  bucket id; bucket edges are literals, so there is no min/max pre-pass
  and the scan is a single stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def gap_fill(
    df: DataFrame,
    key_cols: list[str],
    day_col: str,
    value_cols: list[str],
    *,
    start: Column | None = None,
    end: Column | None = None,
) -> DataFrame:
    """Densify a per-(key, day) frame to one row per key per calendar day,
    forward-filling each value column from the key's last observed day.

    ``start``/``end`` default to the key's own observed min/max day; pass
    literals to align all keys to a global range. Missing days get the most
    recent prior value (NULL before a key's first observation). Emits
    ``is_observed`` so downstream can distinguish carried values.

    Input must already be unique per (key, day) — it is the output of a
    daily rollup. Forward fill is ``last(value, ignorenulls=True)`` over
    rows unbounded-preceding within the key, ordered by day.
    """
    kc = [F.col(c) for c in key_cols]
    packed = df.groupBy(*kc).agg(
        (start if start is not None else F.min(day_col)).alias("__lo"),
        (end if end is not None else F.max(day_col)).alias("__hi"),
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col(day_col),
                    F.struct(*[F.col(c) for c in value_cols]).alias("__v"),
                )
            )
        ).alias("__m"),
    )
    dense = packed.select(
        *key_cols,
        F.explode(F.sequence("__lo", "__hi")).alias(day_col),
        F.col("__m"),
    ).select(
        *key_cols,
        day_col,
        F.col("__m")[F.col(day_col)].alias("__obs"),
    )
    w = (
        Window.partitionBy(*kc)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = [
        F.last(F.col(f"__obs.{c}"), ignorenulls=True).over(w).alias(c)
        for c in value_cols
    ]
    return dense.select(
        *key_cols,
        day_col,
        *filled,
        F.col("__obs").isNotNull().alias("is_observed"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str,
    time_col: str,
    *,
    bucket: str = "day",
) -> DataFrame:
    """Classic retention matrix: users bucketed by first-activity period
    ("cohort"), counted distinct per (cohort, periods-since-cohort).

    Returns (cohort, offset, n_active) with offset 0 = the cohort period
    itself. ``bucket`` is any ``date_trunc`` unit; offsets are calendar
    differences in that unit (days via datediff, weeks via datediff/7,
    months via months_between on truncated dates).
    """
    first = events.groupBy(user_col).agg(
        F.date_trunc(bucket, F.min(time_col)).cast("date").alias("__cohort")
    )
    act = events.select(
        user_col, F.date_trunc(bucket, time_col).cast("date").alias("__p")
    ).join(first, user_col)
    if bucket == "day":
        offset = F.datediff("__p", "__cohort")
    elif bucket == "week":
        offset = (F.datediff("__p", "__cohort") / 7).cast("int")
    elif bucket == "month":
        offset = F.months_between("__p", "__cohort").cast("int")
    else:
        raise ValueError(f"unsupported bucket {bucket!r}")
    return (
        act.select(F.col("__cohort").alias("cohort"), offset.alias("offset"), F.col(user_col))
        .groupBy("cohort", "offset")
        .agg(F.countDistinct(user_col).alias("n_active"))
    )


def funnel_conversion(
    events: DataFrame,
    user_col: str,
    time_col: str,
    type_col: str,
    stages: list[str],
) -> DataFrame:
    """Ordered funnel: for each entity, stage k counts only if an event of
    ``stages[k]`` occurs strictly AFTER the entity's stage-(k-1) completion
    time. Returns one row per stage: (stage_idx, stage, n_entities).

    Each stage's completion time is ``min(ts | type = stage, ts > prev)``
    as an unordered window aggregate over the entity partition — the
    cascade of k stages shares ONE exchange (same partitioning, no
    within-partition sort needed), instead of k self-joins.
    """
    w = Window.partitionBy(user_col)
    out = events.select(user_col, time_col, type_col)
    prev: Column | None = None
    for i, s in enumerate(stages):
        cond = F.col(type_col) == s
        if prev is not None:
            cond = cond & (F.col(time_col) > prev)
        t = F.min(F.when(cond, F.col(time_col))).over(w)
        out = out.withColumn(f"__s{i}", t)
        prev = F.col(f"__s{i}")
    per_user = out.groupBy(user_col).agg(
        *[F.min(f"__s{i}").alias(f"__s{i}") for i in range(len(stages))]
    )
    counts = per_user.agg(
        *[
            F.count(f"__s{i}").cast("long").alias(f"__n{i}")
            for i in range(len(stages))
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage_idx"),
                F.lit(s).alias("stage"),
                F.col(f"__n{i}").alias("n_entities"),
            )
            for i, s in enumerate(stages)
        ]
    )
    return counts.select(F.explode(rows).alias("__r")).select("__r.*")


def pearson_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str] | None = None,
    *,
    scale: int = 2,
) -> DataFrame:
    """Per-group second-moment stats — n, Pearson corr, sample covariance,
    sample stddev of x and y — computed from EXACT decimal partial sums.

    Spark's built-in ``corr``/``covar_samp``/``stddev`` stream doubles
    through Welford-style updates whose result depends on partition count
    and merge order — fine for analytics, unusable for cross-engine
    bit-parity and not even self-reproducible across repartitions. Here the
    five sufficient statistics (Σx, Σy, Σx², Σy², Σxy) are accumulated as
    decimals (order-exact, overflow-checked), and only the final closed-form
    arithmetic runs in IEEE doubles — deterministic for any partitioning,
    and bit-identical to any engine evaluating the same final expression.
    Still ONE aggregation pass with map-side partials.
    """
    gc = group_cols or []
    xd = F.col(x_col).cast(f"decimal(18,{scale})")
    yd = F.col(y_col).cast(f"decimal(18,{scale})")
    agg = df.groupBy(*gc).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(xd).cast("double").alias("__sx"),
        F.sum(yd).cast("double").alias("__sy"),
        F.sum(xd * xd).cast("double").alias("__sxx"),
        F.sum(yd * yd).cast("double").alias("__syy"),
        F.sum(xd * yd).cast("double").alias("__sxy"),
    )
    n, sx, sy = F.col("__n"), F.col("__sx"), F.col("__sy")
    sxx, syy, sxy = F.col("__sxx"), F.col("__syy"), F.col("__sxy")
    return agg.select(
        *gc,
        n.cast("long").alias("n"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_xy"),
        ((sxy - sx * sy / n) / (n - F.lit(1.0))).alias("covar_xy"),
        F.sqrt((sxx - sx * sx / n) / (n - F.lit(1.0))).alias("stddev_x"),
        F.sqrt((syy - sy * sy / n) / (n - F.lit(1.0))).alias("stddev_y"),
    )


def histogram_fixed(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Fixed-edge histogram: bucket i covers [lo + i·w, lo + (i+1)·w) with
    w = (hi − lo)/n_buckets; values outside [lo, hi) clamp into the edge
    buckets. Edges are literals → single-stage scan + one aggregation on a
    small key; cross-engine exact because the bucket id is integer floor
    arithmetic on the same IEEE doubles.
    """
    w = (hi - lo) / n_buckets
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(w))
    bucket = F.least(
        F.greatest(raw, F.lit(0)), F.lit(n_buckets - 1)
    ).cast("int")
    gc = group_cols or []
    return (
        df.select(*gc, bucket.alias("bucket"))
        .groupBy(*gc, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *gc,
            "bucket",
            (F.lit(lo) + F.col("bucket") * F.lit(w)).alias("bucket_lo"),
            "n",
        )
    )


def rolling_distinct(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    group_cols: list[str] | None = None,
    window_days: int = 7,
) -> DataFrame:
    """Rolling N-day distinct-user estimate via HLL sketch MERGE — the
    100 TB form of a sliding COUNT(DISTINCT): raw events aggregate ONCE
    into per-day sketches (KB each, map-side partial merge), and the
    rolling frame unions sketches instead of re-scanning events — a day
    entering or leaving the window costs one KB-sketch merge, not a pass
    over that day's users. An exact sliding distinct would have to carry
    the full per-day user SETS through every frame (memory and shuffle
    proportional to users, re-deduplicated per frame).

    The ROWS frame is over the (already reduced) per-day relation, one
    row per day per group — the month_over_month discipline: the window
    never sees raw events. Returns (group_cols..., day, users_est) with
    the estimate's standard HLL error (~1.6% at the default lgConfigK=12;
    exact at small cardinalities via the sparse representation).
    """
    from pyspark.sql import Window

    gc = group_cols or []
    daily = df.groupBy(
        *gc, F.date_trunc("day", F.col(ts_col)).alias("day")
    ).agg(F.hll_sketch_agg(user_col).alias("__sk"))
    w = (
        Window.partitionBy(*gc) if gc else Window.partitionBy()
    ).orderBy(F.unix_date(F.col("day").cast("date"))).rangeBetween(
        -(window_days - 1), 0
    )
    return daily.withColumn(
        "users_est",
        F.hll_sketch_estimate(F.hll_union_agg("__sk").over(w)),
    ).select(*gc, "day", "users_est")
