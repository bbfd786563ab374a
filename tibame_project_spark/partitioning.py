"""Partitioning utilities — the engine's explicit handle on parallelism.

Spark's scan parallelism is bounded by file splits (row-group granularity for
parquet). A single-row-group file therefore yields ONE task no matter how
many cores exist — catastrophic for compute-dense operators (levenshtein
cross joins, sketching, per-row feature extraction) whose cost is per-row
CPU, not IO. ``ensure_parallelism`` repartitions only when the input is
under-split: on a 100 TB table with thousands of row groups it is a no-op;
on a small single-file input it unlocks full-cluster parallelism for the
CPU-bound stage that follows (a round-robin shuffle of a small input is
noise next to the compute it parallelizes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition ``df`` to at least ``min_parts`` (default: the session's
    shuffle parallelism) if — and only if — its current plan has fewer
    partitions. Use directly upstream of CPU-dense per-row operators.

    The partition-count probe (``df.rdd``) forces a plan→RDD translation,
    which is not free; the verdict is memoized on the DataFrame instance
    (keyed by the requested floor, so explicit ``min_parts`` calls memoize
    too) and the underlying ``getNumPartitions`` probe is paid at most once
    per instance regardless of how many distinct floors are requested."""
    if min_parts is None:
        min_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    memo: dict[int, DataFrame] = getattr(df, "_ensured_parallel", None) or {}
    cached = memo.get(min_parts)
    if cached is not None:
        return cached
    current = getattr(df, "_num_parts_probe", None)
    if current is None:
        current = df.rdd.getNumPartitions()
        df._num_parts_probe = current
    out = df.repartition(min_parts) if current < min_parts else df
    memo[min_parts] = out
    df._ensured_parallel = memo
    return out


def stratified_hash_sample(
    df: DataFrame, stratum_cols: list[str], k: int, *, hash_col: str
) -> DataFrame:
    """Deterministic stratified sample: the k rows with the smallest
    content-hash per stratum — ``rand()``-free (task retries and re-runs
    agree; the sample is a pure function of the data), evenly spread by the
    hash's uniformity, and exactly k per stratum unlike fraction-based
    ``sampleBy``. One window shuffle on the stratum keys; AQE splits skewed
    strata. The per-stratum form of the engine's ``hash_sample`` query."""
    from pyspark.sql import Window

    h = F.md5(F.col(hash_col).cast("string"))
    w = Window.partitionBy(*stratum_cols).orderBy(h, F.col(hash_col))
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .withColumn("rank", F.col("__rank").cast("int"))
        .drop("__rank")
    )


def salt(from_col: Column, buckets: int) -> Column:
    """Deterministic salt in [0, buckets): hashed from a high-cardinality
    column (never rand() — re-computation under task retry must agree)."""
    return F.pmod(F.xxhash64(from_col), F.lit(buckets)).cast("int")


def salted_count_sum(
    df: DataFrame,
    keys: list[str],
    *,
    value_col: str | None = None,
    salt_from: str,
    buckets: int = 64,
) -> DataFrame:
    """Skew-proof count/sum aggregation: two-phase groupBy with a salt.

    AQE's skew handling splits skewed JOIN partitions but a groupBy on a
    pathological hot key (one key = 30% of 100 TB) still funnels that key's
    partials into one reducer. Salting makes phase 1 aggregate on
    (keys, salt) — ≤ ``buckets`` rows per hot key — and phase 2 re-aggregates
    the tiny salted partials. Both phases are decomposable (count→sum,
    sum→sum with exact decimal partials), so results are identical to the
    direct groupBy; phase-2 input is |distinct keys| × buckets rows,
    negligible at any scale.
    """
    d = df.withColumn("__salt", salt(F.col(salt_from), buckets))
    aggs1 = [F.count(F.lit(1)).alias("__n")]
    aggs2 = [F.sum("__n").alias("n")]
    if value_col is not None:
        aggs1.append(F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__s"))
        aggs2.append(F.sum("__s").cast("double").alias(f"sum_{value_col}"))
    return d.groupBy(*keys, "__salt").agg(*aggs1).groupBy(*keys).agg(*aggs2)


def domain_mix_sample(
    df: DataFrame,
    *,
    domain_col: str,
    weights: dict[str, float],
    total: int,
    id_col: str,
    base_hash=None,
) -> DataFrame:
    """Deterministic weighted domain mixing: downsample each domain so the
    output approximates ``total`` rows distributed per ``weights`` — the
    "sample the corpus to a target source mixture" step of a training-data
    build. Domains absent from ``weights`` are dropped.

    Per-domain keep rate = min(1, target_c / n_c), applied as a pure
    hash-threshold on ``id_col`` (no rand(): retries, re-runs, and an
    external oracle all select the same rows; an over-asked domain keeps
    everything rather than upsampling). The domain counts are one
    aggregation whose result is broadcast back — the only full pass before
    the filter, and the filter itself is map-side.
    """
    from tibame_project_spark.operators.dedup import xxhash_base_hash

    bh = base_hash or xxhash_base_hash
    sum_w = float(sum(weights.values()))
    rate_rows = [(d, float(w) / sum_w * total) for d, w in weights.items()]
    from tibame_project_spark.localdf import local_rows_df

    targets = local_rows_df(
        df.sparkSession, rate_rows, f"{domain_col} string, __target double"
    )
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    rates = counts.join(targets, domain_col).select(
        domain_col,
        F.least(F.lit(1.0), F.col("__target") / F.col("__n")).alias("__rate"),
    )
    scale = 1 << 20
    keep = (bh(F.col(id_col).cast("string")) % scale) < F.col("__rate") * scale
    return df.join(F.broadcast(rates), domain_col).filter(keep).drop("__rate")


def weighted_sample(
    df: DataFrame,
    *,
    rate_col: str,
    id_col: str,
    base_hash=None,
) -> DataFrame:
    """Per-row soft sampling: keep each row with probability ``rate_col``
    (a column in [0,1] — a quality score, an importance weight, a
    perplexity bucket rate), decided by a deterministic hash of ``id_col``
    instead of rand(). The soft-filter step of corpus building: rows
    aren't hard-dropped at a threshold, they survive proportionally to
    their weight — and because the coin is a content hash, retries,
    re-runs, incremental rebuilds, and an external oracle all keep exactly
    the same rows. Zero shuffle: the filter is a stateless per-row
    predicate wherever the rate column is already computed."""
    from tibame_project_spark.operators.dedup import xxhash_base_hash

    bh = base_hash or xxhash_base_hash
    scale = 1 << 20
    keep = (bh(F.col(id_col).cast("string")) % scale) < F.col(rate_col) * scale
    return df.filter(keep)


def global_sort_index(
    df: DataFrame,
    *,
    id_col: str,
    base_hash=None,
    hash_bits: int = 60,
    bucket_bits: int = 10,
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic corpus shuffle: assign every row its 1-based position
    in the pseudo-random total order (hash(id), id) — the "shuffle the
    training corpus once, reproducibly" step (epoch ordering, contiguous
    shard assignment, resumable data loaders) — WITHOUT a global
    single-reducer sort.

    A naive ``row_number() OVER (ORDER BY hash)`` funnels the whole table
    through one reducer. Instead: the hash's TOP ``bucket_bits`` bits form
    an order-preserving coarse bucket (bucket-major order == hash order,
    which a mod-bucket would break), positions are assigned per bucket by a
    window at full parallelism, and each bucket's starting offset is the
    cumulative row count of the buckets before it — a |buckets|-row
    relation, cumulated in one tiny single-partition window and broadcast
    back. Total: one count aggregation, one broadcast join, one
    per-bucket window — the same three-step shape at any scale, with
    2^bucket_bits tunable to the cluster's parallelism.

    ``hash_bits`` must match the base hash's range (60 for
    ``md5_base_hash``, 63 for the default ``xxhash_base_hash``) or the top
    bits are constant and every row lands in one bucket.
    """
    from pyspark.sql import Window

    from tibame_project_spark.operators.dedup import xxhash_base_hash

    if base_hash is None:
        base_hash, hash_bits = xxhash_base_hash, 63
    # a NULL id would hash to NULL → NULL bucket → silently dropped by the
    # offsets equi-join; hash the empty string instead so every row keeps
    # a position (NULL ids then sort together, before non-null ids in the
    # per-bucket window's null-first order — deterministic either way)
    h = base_hash(F.coalesce(F.col(id_col).cast("string"), F.lit("")))
    d = df.withColumn("__h", h).withColumn(
        "__bkt", F.shiftright(F.col("__h"), hash_bits - bucket_bits)
    )
    counts = d.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__bkt", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    w_in = Window.partitionBy("__bkt").orderBy("__h", id_col)
    return (
        d.join(F.broadcast(offsets), "__bkt")
        .withColumn(pos_col, F.col("__off") + F.row_number().over(w_in))
        .drop("__h", "__bkt", "__off")
    )


def temperature_mix_sample(
    df: DataFrame,
    *,
    domain_col: str,
    alpha: float = 0.5,
    id_col: str,
    base_hash=None,
) -> DataFrame:
    """Temperature-scaled domain resampling: downsample so the output domain
    distribution follows p_c^alpha (renormalized) instead of the natural
    p_c — the alpha-smoothing used for multilingual / multi-source corpus
    mixing (Conneau & Lample 2019, arXiv:1901.07291 §3.1; mC4 follows the
    same scheme). alpha < 1 flattens the mixture: head domains are cut,
    tail domains are kept whole. Unlike ``domain_mix_sample`` there is no
    hand-written weight table — the target mixture is derived from the
    observed counts.

    Downsampling-only (no upsampling), at the maximal feasible size: the
    per-domain keep rate reduces to ``(n_min / n_c)^(1-alpha)`` where
    ``n_min`` is the smallest domain count — the smallest domain keeps
    every row (rate 1) and output counts are proportional to ``n_c^alpha``.
    Selection is the same pure hash-threshold on ``id_col`` as the other
    samplers (rand()-free: retries, re-runs, and an external oracle agree).

    Cross-engine bit-parity: for the default alpha=0.5 the rate is spelled
    ``sqrt(n_min / n_c)`` — int→double conversion is exact, division and
    sqrt are IEEE correctly rounded, so ANY engine computes the identical
    threshold. Other alphas go through ``pow``, which is NOT guaranteed
    correctly rounded and may differ from an external oracle in the last
    ulp (only relevant to rows whose hash lands exactly on the boundary).

    One count aggregation (map-side combined), whose tiny per-domain result
    is broadcast back; the filter itself is map-side — same 100 TB shape as
    ``domain_mix_sample``.
    """
    from tibame_project_spark.operators.dedup import xxhash_base_hash

    bh = base_hash or xxhash_base_hash
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    gmin = counts.agg(F.min("__n").alias("__min"))
    ratio = F.col("__min") / F.col("__n")
    rate = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    rates = counts.crossJoin(F.broadcast(gmin)).select(
        domain_col, rate.alias("__rate")
    )
    scale = 1 << 20
    keep = (bh(F.col(id_col).cast("string")) % scale) < F.col("__rate") * scale
    return df.join(F.broadcast(rates), domain_col).filter(keep).drop("__rate")


def leakage_safe_split(
    df: DataFrame,
    *,
    group_col: str,
    fractions: dict[str, float],
    base_hash=None,
) -> DataFrame:
    """Train/val/test splitting without leakage: the split is decided by a
    hash of ``group_col`` (source domain, near-dup cluster id, author…), so
    every row of a group lands in the SAME split — the guard against
    near-duplicates straddling train and eval. Deterministic (no rand():
    retries, re-runs and oracles agree) and map-side (no shuffle at all).

    ``fractions`` maps split name → weight (normalized internally); split
    boundaries are consecutive hash intervals, so adjusting one fraction
    reassigns only the groups crossing the moved boundary."""
    from tibame_project_spark.operators.dedup import xxhash_base_hash

    bh = base_hash or xxhash_base_hash
    scale = 1 << 20
    total = float(sum(fractions.values()))
    h = bh(F.col(group_col).cast("string")) % scale
    expr, acc = None, 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name] / total
        cond = h < acc * scale
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[0]) if expr is None else expr.otherwise(names[-1])
    )
    return df.withColumn("split", expr)


def curriculum_index(
    df: DataFrame,
    *,
    tier_col: str,
    id_col: str,
    base_hash=None,
    hash_bits: int = 60,
    bucket_bits: int = 10,
    pos_col: str = "pos",
    descending: bool = True,
) -> DataFrame:
    """Curriculum ordering: every row's 1-based position in the
    (tier, hash(id), id) total order — higher tiers first by default, rows
    pseudo-randomly shuffled WITHIN a tier. The epoch schedule of
    curriculum learning (Bengio et al., ICML 2009): train on the
    highest-quality slice first, anneal downward, while keeping
    within-tier order deterministic and resumable.

    Same three-step shape as ``global_sort_index`` (which this
    generalizes: one tier == a plain shuffle) with the tier as the MAJOR
    key of the composite bucket: per-(tier, bucket) counts → one tiny
    |tiers|·2^bucket_bits-row cumulative-offset relation (single-partition
    window over the bucket relation only, never the data) → broadcast
    back, per-(tier, bucket) row_number at full parallelism. No
    single-reducer sort of the corpus at any size.

    ``tier_col`` must be integer-valued (quality-rule pass counts,
    explicit stage labels) — float tiers invite boundary nondeterminism
    between engines.
    """
    from pyspark.sql import Window

    from tibame_project_spark.operators.dedup import xxhash_base_hash

    if base_hash is None:
        base_hash, hash_bits = xxhash_base_hash, 63
    tier_sort = F.col("__t").desc() if descending else F.col("__t").asc()
    # NULL tiers / ids would vanish through the non-null-safe offsets join;
    # map NULL tier to the lowest priority (trains last under descending)
    # and hash NULL ids as the empty string — every row keeps a position
    d = (
        df.withColumn(
            "__t",
            F.coalesce(F.col(tier_col).cast("long"), F.lit(-(2**63))),
        )
        .withColumn(
            "__h",
            base_hash(F.coalesce(F.col(id_col).cast("string"), F.lit(""))),
        )
        .withColumn("__bkt", F.shiftright(F.col("__h"), hash_bits - bucket_bits))
    )
    counts = d.groupBy("__t", "__bkt").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.orderBy(tier_sort, F.col("__bkt")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__t", "__bkt", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    w_in = Window.partitionBy("__t", "__bkt").orderBy("__h", id_col)
    return (
        d.join(F.broadcast(offsets), ["__t", "__bkt"])
        .withColumn(pos_col, F.col("__off") + F.row_number().over(w_in))
        .drop("__t", "__h", "__bkt", "__off")
    )
