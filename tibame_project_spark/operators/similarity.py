"""Similarity search over embedding columns (array<float>).

Engine extension for the training-data tier: brute-force cosine top-k as the
correctness baseline, and an LSH-bucketed (random-hyperplane sign) variant as
the scale path. Dot products are computed with built-in higher-order
functions (zip_with + aggregate) — JVM-side, codegen'd, no Python.

Determinism: inputs are cast to double and accumulated left-to-right, so the
same IEEE result is produced on every run (and by any oracle that sums the
list sequentially).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tibame_project_spark.partitioning import ensure_parallelism


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
    round_to: int = 4,
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the k nearest items.

    Physical plan: broadcast the query set (top-k search with a bounded query
    batch), stream every item partition past it (broadcast nested loop),
    per-query window top-k. At 100 TB of items this is one pass over the
    items with no item shuffle except the final per-query k rows.

    Returns (query_id, id_col, rank, score) with deterministic id tie-break.
    """
    # norms are precomputed per ROW (O(n+m) interpreted HOF evals), so the
    # per-PAIR work is the dot product only — same float ops per pair as
    # cosine(), so scores stay bit-identical to the SQL oracle
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    scored = (
        ensure_parallelism(items)  # dot products are CPU-dense
        .select(F.col(id_col), F.col(vec_col).alias("__iv"))
        .withColumn("__in", l2_norm(F.col("__iv")))
        .crossJoin(F.broadcast(q))
        .withColumn(
            "score",
            dot(F.col("__iv"), F.col("__qv")) / (F.col("__in") * F.col("__qn")),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            "rank",
            F.round("score", round_to).alias("score"),
        )
    )


def diverse_topk(
    items: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    query_id_col: str = "query_id",
    k: int = 5,
    per_label_cap: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """Diversified cosine top-k: at most ``per_label_cap`` results per
    ``label_col`` value, then the overall top ``k`` by score — the standard
    result-diversification step of retrieval (don't hand back k
    near-identical members of one cluster/source/domain; cap each and fill
    the list from distinct groups). The set-valued, oracle-replayable
    cousin of MMR re-ranking (Carbonell & Goldstein, SIGIR 1998): MMR's
    greedy relevance-vs-redundancy trade is sequential and
    similarity-pair-valued; a per-group cap expresses the same intent as
    two windows, fully relational.

    Physical shape: the same broadcast-queries single-pass scoring as
    ``cosine_topk``, then TWO stacked windows — first per
    (query, label), which caps every label group at ``per_label_cap``, then
    per query over the survivors for the global rank. The first window
    partitions on (query_id, label), a strictly finer key than
    ``cosine_topk``'s query-only window, so the full scored relation
    spreads over |queries|×|labels| reducers instead of |queries| — at
    100 TB of items the cap is applied at that wider parallelism and the
    final query-only window sees only ≤ cap×|labels| rows per query.

    Returns (query_id, id, label, rank, score) with the same deterministic
    (score DESC, id) tie-break as ``cosine_topk``.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    scored = (
        ensure_parallelism(items)
        .select(F.col(id_col), F.col(label_col), F.col(vec_col).alias("__iv"))
        .withColumn("__in", l2_norm(F.col("__iv")))
        .crossJoin(F.broadcast(q))
        .withColumn(
            "score",
            dot(F.col("__iv"), F.col("__qv")) / (F.col("__in") * F.col("__qn")),
        )
    )
    w_label = Window.partitionBy(query_id_col, label_col).orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    w_query = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("__lr", F.row_number().over(w_label))
        .filter(F.col("__lr") <= per_label_cap)
        .withColumn("rank", F.row_number().over(w_query))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            label_col,
            "rank",
            F.round("score", round_to).alias("score"),
        )
    )


def hard_negative_topk(
    items: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    query_id_col: str = "query_id",
    k: int = 3,
    round_to: int = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    (anchor), the ``k`` most similar items whose label DIFFERS from the
    anchor's — the negatives closest to the decision boundary, which carry
    the most gradient signal (the standard triplet/InfoNCE mining step;
    cf. Schroff et al. 2015, arXiv:1503.03832 §3.2's semi-hard selection).

    Same single-pass physical shape as ``cosine_topk`` — broadcast the
    anchor batch (with labels), stream the items past it — with the
    label-mismatch predicate applied BEFORE the ranking window, so
    same-label pairs never enter the shuffle. Returns
    (query_id, id, label, rank, score), deterministic (score desc, id)
    tie-break.
    """
    q = queries.select(
        F.col(query_id_col),
        F.col(label_col).alias("__qlabel"),
        F.col(vec_col).alias("__qv"),
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    scored = (
        ensure_parallelism(items)
        .select(F.col(id_col), F.col(label_col), F.col(vec_col).alias("__iv"))
        .withColumn("__in", l2_norm(F.col("__iv")))
        .crossJoin(F.broadcast(q))
        .filter(F.col(label_col) != F.col("__qlabel"))
        .withColumn(
            "score",
            dot(F.col("__iv"), F.col("__qv")) / (F.col("__in") * F.col("__qn")),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            label_col,
            "rank",
            F.round("score", round_to).alias("score"),
        )
    )


def random_project(vec: Column, planes: list[list[float]]) -> Column:
    """Random linear projection: maps a d-dim vector to the |planes|-dim
    array of its dot products with the plane rows — the Johnson-
    Lindenstrauss dimensionality reduction (with ±1 rows this is
    Achlioptas's database-friendly construction, JCSS 2003: pairwise
    geometry is preserved within (1±ε) at k = O(log n / ε²) output dims,
    using no transcendental math). At 100 TB this is the cheap-vector
    trade complementary to int8 quantization: a k/d-fraction of the
    per-pair dot-product work for every downstream ANN/dedup pass, with
    the projection itself a zero-shuffle map.

    Single pass over the vector: the planes matrix is embedded TRANSPOSED
    as a literal, and one aggregate accumulates all |planes| partial dot
    sums at once (one-dot-per-plane would re-traverse the vector |planes|
    times in interpreted HOF eval). Per-plane accumulation order over j is
    the ascending left fold, so each output coordinate is bit-identical to
    the per-plane spelling and to a SQL list_dot_product oracle."""
    n_planes = len(planes)
    dim = len(planes[0])
    transposed = F.array(
        *[
            F.array(*[F.lit(float(planes[i][j])) for i in range(n_planes)])
            for j in range(dim)
        ]
    )
    return F.aggregate(
        F.zip_with(
            _as_double(vec), transposed, lambda x, col: F.transform(col, lambda p: p * x)
        ),
        F.array_repeat(F.lit(0.0), n_planes),
        lambda acc, contrib: F.zip_with(acc, contrib, lambda a, c: a + c),
    )


def rp_cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    **kw,
) -> DataFrame:
    """Cosine top-k in a random-projection space: project both sides to
    |planes| dims, then the exact broadcast-queries single-pass top-k of
    ``cosine_topk`` over the SHORT vectors. Approximate in the original
    space (JL distortion), exact — and oracle-replayable — in the
    projected space; the standard recipe when vectors dominate ANN cost
    (project once, search many).

    Fidelity is a DATA property: JL preserves well-separated geometry
    (cluster membership survives — tested on planted clusters), but on
    isotropic near-random vectors, or among near-tie neighbors, rankings
    decorrelate at k ≪ d (distortion ε ~ sqrt(ln n / k) exceeds the score
    gaps). For faithful top-k on unstructured data keep the full vectors
    (``quantized_ann`` trades bytes instead of dimensions)."""
    vec_col = kw.get("vec_col", "embedding")
    id_col = kw.get("id_col", "vec_id")
    query_id_col = kw.get("query_id_col", "query_id")
    it = items.select(
        F.col(id_col), random_project(F.col(vec_col), planes).alias("__p")
    )
    q = queries.select(
        F.col(query_id_col), random_project(F.col(vec_col), planes).alias("__p")
    )
    return cosine_topk(
        it,
        q,
        vec_col="__p",
        id_col=id_col,
        query_id_col=query_id_col,
        k=kw.get("k", 5),
        round_to=kw.get("round_to", 4),
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: one bit per random hyperplane (sign of dot
    product), packed into a bigint. ``planes`` is a small, deterministic
    list generated once on the driver.

    Single pass over the vector: the planes matrix is embedded TRANSPOSED as
    a literal, and one aggregate accumulates all |planes| partial dot sums
    at once (one-dot-per-plane would re-traverse the vector |planes| times
    in interpreted HOF eval). Per-plane accumulation order over j is
    unchanged (ascending left fold), so dot products — and therefore bucket
    bits — are bit-identical to the per-plane spelling and to a SQL
    list_dot_product oracle."""
    n_planes = len(planes)
    dots = random_project(vec, planes)
    bits = F.zip_with(
        dots,
        F.array(*[F.lit(1 << i).cast("long") for i in range(n_planes)]),
        lambda d, m: F.when(d >= 0, m).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc.bitwiseOR(b))


def lsh_cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    **kw,
) -> DataFrame:
    """Approximate cosine top-k: restrict the search to items sharing the
    query's hyperplane-sign bucket, then exact top-k inside the bucket.
    Trades recall for a |bucket|/|items| cost reduction; at scale the join is
    a hash join on the bucket id instead of a full cross product."""
    vec_col = kw.get("vec_col", "embedding")
    id_col = kw.get("id_col", "vec_id")
    query_id_col = kw.get("query_id_col", "query_id")
    k = kw.get("k", 5)
    round_to = kw.get("round_to", 4)

    it = (
        items.select(F.col(id_col), F.col(vec_col).alias("__iv"))
        .withColumn("__bkt", hyperplane_bucket(F.col("__iv"), planes))
        .withColumn("__in", l2_norm(F.col("__iv")))
    )
    q = (
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qv"))
        .withColumn("__bkt", hyperplane_bucket(F.col("__qv"), planes))
        .withColumn("__qn", l2_norm(F.col("__qv")))
    )
    scored = it.join(F.broadcast(q), "__bkt").withColumn(
        "score",
        dot(F.col("__iv"), F.col("__qv")) / (F.col("__in") * F.col("__qn")),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", F.round("score", round_to).alias("score"))
    )


def ivf_cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    **kw,
) -> DataFrame:
    """IVF-style approximate nearest neighbor: coarse-quantize items into
    cells (nearest centroid by cosine), probe only the query's cell, exact
    top-k inside it. The inverted-file counterpart to ``lsh_cosine_topk`` —
    data-adaptive cells instead of data-independent hyperplanes.

    ``centroids`` is any small DataFrame of (id_col, vec_col) — k-means
    means, a sampled subset, or curated anchors; it is broadcast, so cell
    assignment is one narrow pass over the items (|items| × |centroids|
    dot products, map-side argmin via min-struct, no shuffle). The cell
    join then replaces the brute-force cross product exactly like an IVF
    index replaces a flat scan. Ties break on centroid id (deterministic).
    """
    vec_col = kw.get("vec_col", "embedding")
    id_col = kw.get("id_col", "vec_id")
    query_id_col = kw.get("query_id_col", "query_id")
    k = kw.get("k", 5)
    round_to = kw.get("round_to", 4)

    c = centroids.select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv")
    ).withColumn("__cn", l2_norm(F.col("__cv")))

    def assign(df: DataFrame, key: str, vec: str) -> DataFrame:
        v = df.select(F.col(key), F.col(vec).alias("__v")).withColumn(
            "__n", l2_norm(F.col("__v"))
        )
        cos = dot(F.col("__v"), F.col("__cv")) / (F.col("__n") * F.col("__cn"))
        return (
            ensure_parallelism(v)
            .crossJoin(F.broadcast(c))
            .groupBy(key, "__v", "__n")
            .agg(F.min(F.struct((-cos).alias("__negcos"), F.col("__cid"))).alias("__best"))
            .select(key, "__v", "__n", F.col("__best.__cid").alias("__cell"))
        )

    it = assign(items, id_col, vec_col)
    q = assign(queries, query_id_col, vec_col).withColumnsRenamed(
        {"__v": "__qv", "__n": "__qn"}
    )
    scored = it.join(F.broadcast(q), "__cell").withColumn(
        "score",
        dot(F.col("__v"), F.col("__qv")) / (F.col("__n") * F.col("__qn")),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", F.round("score", round_to).alias("score"))
    )


def embedding_dedup_pairs(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold. With ``planes``
    given, candidates are restricted to same-LSH-bucket pairs (scale path);
    otherwise exact over the full self-join (correctness baseline)."""
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).withColumn("__nrm", l2_norm(F.col("__v")))
    if planes is not None:
        base = base.withColumn("__bkt", hyperplane_bucket(F.col("__v"), planes))
        cond = (F.col("l.__bkt") == F.col("r.__bkt")) & (F.col("l.__id") < F.col("r.__id"))
    else:
        cond = F.col("l.__id") < F.col("r.__id")
    # persisted: feeds both sides of the self-join (bucket + norm once)
    base = base.persist()
    l, r = base.alias("l"), base.alias("r")
    joined = l.join(r, cond) if planes is not None else l.crossJoin(r).filter(cond)
    return (
        joined.withColumn(
            "score",
            dot(F.col("l.__v"), F.col("r.__v"))
            / (F.col("l.__nrm") * F.col("r.__nrm")),
        )
        .filter(F.col("score") >= threshold)
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.round("score", 4).alias("score"),
        )
    )


def quantize_dequantize(df: DataFrame, vec_col: str, *, bits: int = 8) -> DataFrame:
    """Symmetric per-vector integer quantization, returned as the
    dequantized double array — the storage/bandwidth trade of int8 ANN
    (4× smaller vectors, one extra multiply on read) made measurable: run
    the same top-k on the round-tripped vectors and compare recall.

    Per vector: ``q_j = clamp(floor(v_j · L / vmax), −L, L)``,
    ``dq_j = q_j · vmax / L`` with ``L = 2^(bits−1) − 1`` and
    ``vmax = max|v_j|`` (zero vectors pass through as zeros). The clamp is
    load-bearing at the negative edge: for ``v_j = −vmax`` the product
    ``v_j · L / vmax`` can round to just below ``−L``, and an unclamped
    floor would emit ``−(L+1)`` — a dequantized value OUTSIDE
    ``[−vmax, vmax]`` (caught by the Hypothesis round-trip bound test).
    Every step is IEEE-exact or correctly rounded and
    spelled identically in the DuckDB oracle, so dequantized values — and
    therefore downstream cosine scores and rankings — are bit-identical
    cross-engine. vmax is staged in its own projection (interpreted-HOF
    discipline: referencing it inside the transform lambda would
    re-evaluate the array max per element).

    Replaces ``vec_col`` in place; all other columns pass through.
    """
    levels = (1 << (bits - 1)) - 1
    others = [c for c in df.columns if c != vec_col]
    staged = df.select(
        *others,
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).withColumn(
        "__vmax", F.array_max(F.transform(F.col("__v"), F.abs))
    )
    dq = F.when(
        F.col("__vmax") == 0,
        F.transform(F.col("__v"), lambda x: F.lit(0.0)),
    ).otherwise(
        F.transform(
            F.col("__v"),
            lambda x: F.greatest(
                F.lit(-levels),
                F.least(F.lit(levels), F.floor(x * levels / F.col("__vmax"))),
            )
            * F.col("__vmax")
            / levels,
        )
    )
    return staged.select(*others, dq.alias(vec_col))


def semantic_dedup(
    items: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Semantic deduplication, the cluster-then-dedup scheme of SemDeDup
    (Abbas et al., 2023, arXiv:2303.09540): assign every item to its
    nearest-centroid cell, call two items duplicates when their cosine
    similarity within a cell reaches ``threshold``, and keep the
    smallest-id member of each duplicate relation (an item is dropped iff a
    smaller-id near-duplicate shares its cell — the same survivor rule as
    ``minhash_dedup_docs``, so the two dedup tiers compose predictably).

    Physical shape for 100 TB: ``centroids`` is small (k-means output from
    ``kmeans_centroids`` or curated anchors) and is broadcast, so cell
    assignment is one narrow map-side argmin pass — no shuffle. The
    duplicate search is a self-join ON THE CELL ID, so the pair space is
    Σ|cell|² instead of |items|² — exactly the reduction that makes
    SemDeDup tractable where brute-force embedding dedup
    (``embedding_dedup_pairs`` without planes) is not; skewed cells split
    under AQE since the join key is the cell id. Returns (id_col, cell)
    for survivors.

    Caching contract: the cell-assignment relation is ``persist()``-ed
    (it feeds both self-join sides and the survivor anti-join; computing
    the broadcast-argmin three times would cost more than the storage) and
    the returned DataFrame keeps referencing it, so it cannot be released
    here. It lives until ``spark.catalog.clearCache()`` or session end —
    long-lived sessions calling this repeatedly should clearCache between
    corpora (``bench.py`` does exactly that between queries). At 100 TB
    replace the persist with an explicit parquet materialization of the
    assignment, as ``plans/release.py`` documents for its barriers.
    """
    c = centroids.select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv")
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    v = items.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).withColumn("__n", l2_norm(F.col("__v")))
    cos = dot(F.col("__v"), F.col("__cv")) / (F.col("__n") * F.col("__cn"))
    assigned = (
        ensure_parallelism(v)
        .crossJoin(F.broadcast(c))
        .groupBy("__id", "__v", "__n")
        .agg(F.min(F.struct((-cos).alias("__negcos"), F.col("__cid"))).alias("__b"))
        .select("__id", "__v", "__n", F.col("__b.__cid").alias("cell"))
        # feeds both self-join sides AND the survivor anti-join: assign once
        .persist()
    )
    l, r = assigned.alias("l"), assigned.alias("r")
    sim = dot(F.col("l.__v"), F.col("r.__v")) / (F.col("l.__n") * F.col("r.__n"))
    losers = (
        l.join(
            r,
            (F.col("l.cell") == F.col("r.cell"))
            & (F.col("r.__id") < F.col("l.__id")),
        )
        .filter(sim >= threshold)
        .select(F.col("l.__id").alias("__id"))
        .distinct()
    )
    return assigned.join(losers, "__id", "left_anti").select(
        F.col("__id").alias(id_col), "cell"
    )


def kmeans_centroids(
    items: DataFrame,
    k: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 5,
) -> DataFrame:
    """Deterministic distributed Lloyd's k-means over an embedding column —
    trains the cells ``ivf_cosine_topk`` probes, with no MLlib dependency
    and bit-reproducible output.

    Determinism choices (each one matters for retries/re-runs/oracles):

    * seeds = the ``k`` rows with smallest ``md5(id)`` — a pure function of
      the data, not ``rand()``;
    * assignment = min-struct argmin by (negative cosine, centroid id) —
      ties can't flip between runs;
    * update = per-dimension mean over ``decimal(28,12)`` partial sums —
      order/parallelism-independent, unlike a double sum.

    Plan per iteration: broadcast centroids (k × dim doubles — KBs) → narrow
    assignment pass → posexplode to (cell, pos, val) → two-level groupBy.
    ``localCheckpoint`` truncates lineage so the plan doesn't double per
    iteration (same iterative-Spark discipline as ``connected_components``).
    Returns (cell_id, centroid array<double>, cell size).
    """
    base = (
        ensure_parallelism(items)
        .select(F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v"))
        .persist()
    )
    centroids = (
        base.orderBy(F.md5(F.col("__id").cast("string")), F.col("__id"))
        .limit(k)
        .select(
            F.row_number()
            .over(Window.orderBy(F.md5(F.col("__id").cast("string")), F.col("__id")))
            .alias("__cid"),
            F.col("__v").alias("__cv"),
        )
        .localCheckpoint()
    )
    for _ in range(iters):
        c = centroids.withColumn("__cn", l2_norm(F.col("__cv")))
        assigned = (
            base.withColumn("__n", l2_norm(F.col("__v")))
            .crossJoin(F.broadcast(c))
            .withColumn(
                "__negcos",
                -dot(F.col("__v"), F.col("__cv")) / (F.col("__n") * F.col("__cn")),
            )
            .groupBy("__id", "__v")
            .agg(F.min(F.struct(F.col("__negcos"), F.col("__cid"))).alias("__b"))
            .select("__id", "__v", F.col("__b.__cid").alias("__cell"))
        )
        centroids = (
            assigned.select("__cell", F.posexplode("__v").alias("__pos", "__val"))
            .groupBy("__cell", "__pos")
            # decimal partial sums → exact, order-independent; the division
            # happens in double AFTER the exact sum (decimal division scale
            # rules differ between engines; double division does not)
            .agg(
                (
                    F.sum(F.col("__val").cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("__mean")
            )
            .groupBy("__cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__mean"))
                ).alias("__pm")
            )
            .select(
                F.col("__cell").alias("__cid"),
                F.transform("__pm", lambda s: s["__mean"]).alias("__cv"),
            )
            .localCheckpoint()
        )
    sizes = (
        base.withColumn("__n", l2_norm(F.col("__v")))
        .crossJoin(F.broadcast(centroids.withColumn("__cn", l2_norm(F.col("__cv")))))
        .withColumn(
            "__negcos",
            -dot(F.col("__v"), F.col("__cv")) / (F.col("__n") * F.col("__cn")),
        )
        .groupBy("__id")
        .agg(F.min(F.struct(F.col("__negcos"), F.col("__cid"))).alias("__b"))
        .groupBy(F.col("__b.__cid").alias("__cid"))
        .agg(F.count(F.lit(1)).cast("int").alias("size"))
    )
    base.unpersist()
    return centroids.join(sizes, "__cid", "left").select(
        F.col("__cid").alias("cell_id"),
        F.col("__cv").alias("centroid"),
        F.coalesce("size", F.lit(0)).alias("size"),
    )


def sparse_postings(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Raw term-frequency postings — the inverted-index relation
    ``(id_col, token, tf)`` over whitespace-lowercase tokens (the same
    tokenization as ``functions.textstats.top_terms``). This is the
    build-once artifact of the sparse retrieval tier: at 100 TB it is a
    materialized table reused across query batches; in a long-lived
    session, ``localCheckpoint`` it and hand it to
    :func:`sparse_cosine_topk` / :func:`hybrid_rerank` via
    ``item_postings=`` so consecutive retrievals share one
    tokenize+explode+count pass."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
    )
    return (
        docs.select(F.col(id_col), F.explode(toks).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
    )


def sparse_cosine_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    k: int = 5,
    df_frac_cap: float | None = 0.5,
    round_to: int = 4,
    item_postings: DataFrame | None = None,
) -> DataFrame:
    """Sparse (bag-of-words) cosine top-k via an inverted-index join — the
    classic IR retrieval path, complementary to the dense-embedding tier:
    no vectors are materialized, no cross product is planned. A document's
    sparse vector is its whitespace-token term-frequency map (the same
    tokenization as ``functions.textstats.top_terms``); cosine over those
    vectors equals sum(tf_d·tf_q) over SHARED tokens divided by the norms,
    so the token equi-join generates exactly the nonzero-dot candidates.

    Physical plan (the inverted index, relationally):
      1. postings(docs):  explode tokens → (id, token, tf) count agg
      2. ONE exchange on token carries two windows: the document
         frequency, thresholded at ``df_frac_cap``·|docs| (impact pruning
         / stop-token drop — hot tokens pair every doc with every query
         for near-constant noise; |docs| is a broadcast 1-row aggregate),
         and a representative-posting flag (the token's smallest id).
         Cosine is then EXACT in the pruned token space, which is what a
         SQL oracle replays.
      3. a window on the id key carries Σtf_i².
      4. candidates: item postings ⋈ broadcast(query postings) on token →
         (query, doc, Σtf_i²) dot = SUM(tf_i·tf_q), integer-exact, on the
         id partitioning of step 3: no exchange of its own.
      5. per-query window: Σtf_q² — with a cap, over the representative
         rows (each kept query token meets exactly one); with none, a
         window over the query postings, so tokens absent from the corpus
         still count — then score = dot / (√Σtf_i² · √Σtf_q²), exact ints
         through correctly rounded IEEE sqrt/division (bit-identical on
         any engine), and top-k by (score DESC, id).

    Shuffles: query-postings count agg, token windows, id window, query
    window, all hash-partitioned AFTER the df prune removes the hot-token
    skew, plus the 1-row doc count. The broadcast side is only the query
    batch's postings, never the corpus. Returns (query_id, id, rank,
    score).

    Postings: the raw item postings have ONE consumer in this plan, so
    ``item_postings=None`` builds them inline, uncached. Pass a
    caller-cached (``persist`` / ``localCheckpoint``) :func:`sparse_postings`
    result over the SAME corpus to share one build across retrievals
    (``sparse_topk`` + ``hybrid_rerank`` do); at 100 TB it is a
    materialized inverted-index table, reused across query batches.
    """
    if item_postings is None:
        item_postings = sparse_postings(
            ensure_parallelism(docs), text_col=text_col, id_col=id_col
        )
    item_post = item_postings.select(F.col(id_col).alias("__did"), "token", "tf")
    query_post = sparse_postings(
        queries, text_col=text_col, id_col=query_id_col
    ).select(F.col(query_id_col).alias("__qid"), "token", F.col("tf").alias("__qtf"))
    qtf2 = F.col("__qtf") * F.col("__qtf")
    by_qid = Window.partitionBy("__qid")

    if df_frac_cap is not None:
        by_token = Window.partitionBy("token")
        n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
        item_post = (
            item_post.withColumn("__df", F.count(F.lit(1)).over(by_token))
            .withColumn("__rep", F.row_number().over(by_token.orderBy("__did")) == 1)
            .crossJoin(F.broadcast(n_docs))
            .filter(F.col("__df") <= F.lit(df_frac_cap) * F.col("__n"))
        )
        # each kept query token meets exactly one representative posting
        qn2_part = F.sum(F.when(F.col("__rep"), qtf2).otherwise(0))
        qn2 = F.sum("__qn2").over(by_qid)
    else:
        query_post = query_post.withColumn("__qn2", F.sum(qtf2).over(by_qid))
        qn2_part = F.max("__qn2")  # constant per query
        qn2 = F.col("__qn2")

    dots = (
        item_post.withColumn(
            "__dn2", F.sum(F.col("tf") * F.col("tf")).over(Window.partitionBy("__did"))
        )
        .join(F.broadcast(query_post), "token")
        .groupBy("__qid", "__did", "__dn2")
        .agg(
            F.sum(F.col("tf") * F.col("__qtf")).alias("__dot"),
            qn2_part.alias("__qn2"),
        )
    )
    # rows with a NULL id are not ranked (the oracle's id joins drop them),
    # but they carry query-norm parts until the query window has summed them
    scored = (
        dots.withColumn("__qn2", qn2)
        .filter(F.col("__qid").isNotNull() & F.col("__did").isNotNull())
        .withColumn("score", F.col("__dot") / (F.sqrt("__dn2") * F.sqrt("__qn2")))
    )
    w = by_qid.orderBy(F.col("score").desc(), F.col("__did"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            F.col("__did").alias(id_col),
            "rank",
            F.round("score", round_to).alias("score"),
        )
    )


def hybrid_rerank(
    docs: DataFrame,
    queries_text: DataFrame,
    item_vecs: DataFrame,
    query_vecs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
    n_candidates: int = 20,
    k: int = 5,
    df_frac_cap: float | None = 0.8,
    round_to: int = 4,
    item_postings: DataFrame | None = None,
) -> DataFrame:
    """Two-stage hybrid retrieval: sparse lexical candidate generation
    (``sparse_cosine_topk``'s inverted index, top ``n_candidates``) →
    dense cosine re-rank of just those candidates → top ``k``. The
    standard lexical+semantic pipeline: the sparse stage is cheap and
    high-recall at corpus scale (token equi-join, no vectors), the dense
    stage is exact but only ever touches ``n_candidates`` rows per query.

    Physical shape: stage-1 output is (query, candidate) — tiny: bounded
    by |queries| × n_candidates — so the embedding joins that follow are
    lookups against it: candidates ⋈ item vectors on the id key (the big
    embedding table is joined ON ITS KEY, touched once, no scan of
    non-candidates survives the join), query vectors broadcast. At 100 TB
    the dense re-rank cost is independent of corpus size — that is the
    entire point of the architecture.

    Returns (query_id, id, rank, sparse_score, dense_score) ranked by
    (dense_score DESC, id). ``item_postings`` forwards to
    :func:`sparse_cosine_topk` so the stage-1 inverted index can be a
    caller-cached :func:`sparse_postings` build shared with other
    retrievals.
    """
    cand = sparse_cosine_topk(
        docs,
        queries_text,
        text_col=text_col,
        id_col=id_col,
        query_id_col=query_id_col,
        k=n_candidates,
        df_frac_cap=df_frac_cap,
        round_to=round_to,
        item_postings=item_postings,
    ).select(query_id_col, id_col, F.col("score").alias("sparse_score"))
    iv = item_vecs.select(
        F.col(vec_id_col).alias(id_col), F.col(vec_col).alias("__iv")
    ).withColumn("__in", l2_norm(F.col("__iv")))
    qv = query_vecs.select(
        F.col(vec_id_col).alias(query_id_col), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    scored = (
        cand.join(iv, id_col)
        .join(F.broadcast(qv), query_id_col)
        .withColumn(
            "dense_score",
            dot(F.col("__iv"), F.col("__qv")) / (F.col("__in") * F.col("__qn")),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dense_score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            "rank",
            "sparse_score",
            F.round("dense_score", round_to).alias("dense_score"),
        )
    )
