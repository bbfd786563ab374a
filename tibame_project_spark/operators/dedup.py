"""Deduplication — the reference's signature operator (10+ call sites,
SURVEY.md §2.3) plus the large-scale near-dup family a training-data pipeline
needs (MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine).

Scale notes (100 TB):

* exact dedup is one hash-shuffle on the key — Catalyst's partial hash
  aggregate combines map-side, so the shuffle carries unique keys only;
* keep-first/keep-last are a single window shuffle on the key; no sort of the
  full table, only within key partitions (skewed keys handled by AQE);
* MinHash-LSH turns the O(n²) pair space into per-band hash buckets — each
  band is one groupBy shuffle; candidate verification joins only within
  buckets. Band count b and rows r trade recall vs cost (s-curve at
  threshold ≈ (1/b)^(1/r)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tibame_project_spark.partitioning import ensure_parallelism

# ---------------------------------------------------------------------------
# Exact dedup (D1/D2/D3)
# ---------------------------------------------------------------------------


def distinct_rows(df: DataFrame) -> DataFrame:
    """SELECT DISTINCT full-row (D1 — e.g. ``d_gmaps_dim_places.py:36``)."""
    return df.distinct()


def dedup_subset(df: DataFrame, keys: list[str]) -> DataFrame:
    """``drop_duplicates(subset=keys)`` where survivor identity doesn't matter
    (D2 without an ordering — ``transfer_src_tripadvisor…py:70``)."""
    return df.dropDuplicates(keys)


def _keep_one(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_keep_first(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """pandas ``drop_duplicates(keep="first")`` (D2,
    ``d_tripadvisor_src_to_ods.py:70-71``). pandas keeps the first row in
    frame order; Spark has no stable order, so the caller supplies the
    explicit ordering that *defines* "first"."""
    return _keep_one(df, keys, order_by)


def dedup_keep_last(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """``drop_duplicates(keep="last")`` — keep the latest scrape per post_link
    (D3, ``fb_scraper/facebook_scraper.py:141``). Pass the same ordering as
    keep_first; we invert it."""
    return _keep_one(df, keys, [c.desc() for c in order_by])


def dedup_exact_text(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup via md5 grouping: one survivor (min id) per
    distinct text, with the duplicate count. The hash-groupBy shuffles
    16-byte digests, not document bodies — the scalable form of full-text
    DISTINCT."""
    return (
        df.withColumn("__h", F.md5(F.col(text_col)))
        .groupBy("__h")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("__h")
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash-LSH near-dup
# ---------------------------------------------------------------------------

# Mersenne prime 2^31-1 for the universal-hash family (a*x+b) mod p:
# with h, a, b < p the product h*a+b < 2^62 stays inside a 64-bit long
# (no overflow under ANSI arithmetic), and a 2^31 hash space is ample for
# MinHash collision behavior.
_P = (1 << 31) - 1


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string>; docs shorter than n words
    collapse to a single whole-doc shingle."""
    toks = F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != "")
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) > 0, F.array_distinct(grams)).otherwise(F.array().cast("array<string>"))


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(__id, __sh) with the shingle array evaluated ONCE per row.

    Higher-order-function expressions are not whole-stage-codegen-able
    (interpreted eval), so expression duplication is a real cost here:
    a ``filter(size(sh) > 0)`` on top of the projection gets pushed below it
    and inlines the entire shingle expression a second time, and a single
    nested expression evaluates the tokenization three times. Staging
    tokenize → gram as separate projections (CollapseProject declines to
    inline multi-use non-cheap aliases) and filtering empty docs on the raw
    text column (equivalent: shingles are empty iff trim(text) = '';
    pushable to the scan) keeps every HOF evaluated exactly once."""
    toks = F.filter(F.split(F.lower(F.trim(F.col("__text"))), r"\s+"), lambda t: t != "")
    k = F.size(F.col("__tk")) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(F.col("__tk"), i, n)),
    )
    return (
        ensure_parallelism(df)  # sketching is CPU-dense: split small scans
        .filter(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .withColumn("__tk", toks)
        .withColumn("__sh", F.array_distinct(grams))
        .select("__id", "__sh")
    )


def md5_base_hash(c: Column) -> Column:
    """Oracle-parity 60-bit base hash: first 15 hex digits of md5 as a
    non-negative bigint. Slower than xxhash64 (still JVM-side/codegen) but
    computable identically in DuckDB
    (``CAST('0x' || substr(md5(s),1,15) AS BIGINT)``), which xxhash64 is
    not — use it wherever a sketch must be bit-for-bit verifiable by an
    external SQL oracle."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def xxhash_base_hash(c: Column) -> Column:
    """Default fast base hash: non-negative xxhash64 (single JVM intrinsic)."""
    return F.abs(F.xxhash64(c))


def _perm_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the hash family — plain LCG expansion of
    the seed so runs are reproducible without Math.random."""
    params = []
    state = seed
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (_P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _P
        params.append((a, b))
    return params


def minhash_signature(
    shingle_col: Column,
    num_perm: int = 32,
    seed: int = 42,
    base_hash=xxhash_base_hash,
) -> Column:
    """MinHash signature (array<bigint>, length num_perm) over a shingle
    array. Base hash defaults to xxhash64 (JVM-side; pass
    ``base_hash=md5_base_hash`` for oracle parity); each permutation is
    min((a*h+b) mod p). Empty shingle set → NULL signature.

    Single-pass form: shingles are base-hashed ONCE via a ``transform``
    (yielding an array of longs), and the aggregate's step references the
    hash only through its lambda variable. Spelling the base hash inside
    the step instead inlines it into every permutation expression — HOFs
    are interpreted with no common-subexpression elimination, so that
    spelling pays ``num_perm`` base hashes per shingle (measured ~10× on
    the md5 base hash)."""
    perms = _perm_params(num_perm, seed)
    init = F.array_repeat(F.lit(_P).cast("long"), num_perm)
    hashed = F.transform(shingle_col, lambda s: base_hash(s) % _P)

    def step(acc: Column, h: Column) -> Column:
        vals = F.array(*[(h * a + b) % _P for a, b in perms])
        return F.zip_with(acc, vals, lambda x, y: F.least(x, y))

    sig = F.aggregate(hashed, init, step)
    return F.when(F.size(shingle_col) > 0, sig)


def minhash_signature_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    num_perm: int = 32,
    base_hash=xxhash_base_hash,
) -> DataFrame:
    """The (``__id``, ``__sh`` shingles, ``__sig`` signature) relation —
    the materialization point of the sketch-once contract: compute it per
    ingest batch, write it beside the corpus, and run pair generation over
    unioned signature tables without ever re-reading old TEXT
    (``minhash_pairs_from_signatures``). Incremental dedup of a 100 TB
    corpus then costs one sketch pass over the DELTA plus a band join of
    signature relations."""
    return _shingled(df, text_col, id_col, n).withColumn(
        "__sig", minhash_signature(F.col("__sh"), num_perm, base_hash=base_hash)
    )


def minhash_pairs_from_signatures(
    base: DataFrame,
    *,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Banded-LSH pair generation + exact-Jaccard verify over a
    precomputed signature relation (``minhash_signature_table``, possibly
    a union of per-batch tables). Plan shape: explode bands (rows × bands)
    → band-bucket equi-join → exact-Jaccard verify on the shingle arrays.
    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.
    """
    rows = num_perm // bands
    banded = base.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.md5(F.concat_ws(",", *[F.element_at("__sig", i * rows + j + 1) for j in range(rows)])).alias("bh"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select("__id", "b.band", "b.bh")

    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )
    a = base.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = base.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    base_hash=xxhash_base_hash,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH + exact-Jaccard verify.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.

    Plan shape: shingle+sign (narrow) → explode bands (rows × bands) →
    groupBy band bucket (shuffle on 16-byte band hash) → pair-join inside
    buckets → verify with exact shingle Jaccard. At 100 TB the only wide ops
    are the band groupBy and the candidate self-join, both on hashed keys.
    ``base`` feeds three plan branches (banding + both verify sides); it is
    persisted so sketching runs once — at very large scale materialize it
    with ``minhash_signature_table`` instead (same idea, spill-backed here
    via MEMORY_AND_DISK) and feed deltas through
    ``minhash_pairs_from_signatures``.
    """
    base = minhash_signature_table(
        df, text_col, id_col, n=n, num_perm=num_perm, base_hash=base_hash
    ).persist()
    return minhash_pairs_from_signatures(
        base, num_perm=num_perm, bands=bands, threshold=threshold
    )


def minhash_dedup(
    df: DataFrame, text_col: str, id_col: str, **kw
) -> DataFrame:
    """Drop near-duplicates, keeping the smallest id of each connected pair
    group (single-link, one pass — transitive chains collapse to their
    smallest reachable survivor on iteration; one pass suffices for dedup
    semantics where any-survivor is acceptable). For exactly-one-survivor-
    per-transitive-cluster semantics, feed the pairs through
    ``connected_components`` and keep ``component`` representatives."""
    pairs = minhash_dedup_pairs(df, text_col, id_col, **kw)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def connected_components(
    pairs: DataFrame, *, max_iter: int = 20
) -> DataFrame:
    """(node, component) labeling of the undirected graph given as
    (id_a, id_b) pairs — component = smallest reachable node id. The
    iterative-algorithm surface of the engine: transitive dedup clusters,
    synonym groups, entity resolution.

    Min-label propagation with POINTER JUMPING: each round every node first
    adopts the minimum label in its neighborhood (its own included), then
    shortcuts through its label's label (``component ← label[component]``,
    the path-doubling step of Shiloach-Vishkin / the small-star contraction
    of Kiveris et al., "Connected Components in MapReduce and Beyond").
    Plain min-label converges in O(diameter) rounds — a 100 TB dedup graph
    with a pathological chain (A≈B≈C≈… drifting near-dup text) would
    silently exhaust the round budget; the jump step doubles the shortcut
    distance every round, so convergence is O(log diameter): a
    million-node path converges in ~20 rounds instead of a million.

    Each round is two bounded shuffles (neighborhood groupBy + the
    labels-sized self-join for the jump); ``localCheckpoint`` truncates the
    lineage so the plan doesn't double per iteration (the classic
    iterative-Spark trap), and the loop exits early the first round nothing
    changes — the single driver-side scalar per round an iterative
    distributed algorithm legitimately collects. If ``max_iter`` rounds pass
    without convergence the (possibly under-merged) labeling is returned
    with an explicit ``RuntimeWarning`` rather than a silent wrong answer.
    """
    import warnings

    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b"), F.col("id_a")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    converged = False
    for i in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("component").alias("__nbr"))
        )
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.col("component").alias("__old"),
            F.least(
                F.col("component"), F.coalesce(F.col("__nbr"), F.col("component"))
            ).alias("component"),
        )
        # Pointer jump: component ← label[component]. Every label IS a node
        # id (labels cover all nodes; least() only ever picks node ids), so
        # the lookup is a labels self-join; coalesce guards the no-op case.
        # GATED to round 3+: typical dedup graphs (star-shaped clusters,
        # diameter ≤ 2) converge in 2 rounds of plain min-label, and the
        # jump's extra self-join shuffle measurably slows them (~1.8x on
        # dedup_groups at sf0.1); only a graph still changing after 2
        # rounds has the growing diameter the O(log d) doubling is for —
        # engaging it then still bounds pathological chains.
        if i >= 2:
            ptr = stepped.select(
                F.col("node").alias("__pn"), F.col("component").alias("__pc")
            )
            stepped = stepped.join(
                ptr, stepped["component"] == ptr["__pn"], "left"
            ).select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("__pc"), F.col("component")),
                ).alias("component"),
                "__old",
            )
        updated = stepped.withColumn(
            "__chg", F.col("component") < F.col("__old")
        ).localCheckpoint()
        changed = updated.filter(F.col("__chg")).limit(1).count()
        labels = updated.select("node", "component")
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components: not converged after {max_iter} rounds; "
            "labels may be under-merged (raise max_iter — convergence is "
            "O(log diameter) with pointer jumping)",
            RuntimeWarning,
            stacklevel=2,
        )
    edges.unpersist()
    return labels


def line_dedup_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_line_chars: int = 1,
) -> DataFrame:
    """Corpus-wide line deduplication (the C4 rule: a line appearing in
    multiple documents is kept only in its first occurrence): explode
    lines → md5-keyed keep-first window over (line hash) ordered by
    (doc id, line position) → reassemble surviving lines in document order.

    Returns (id, text, n_lines_kept, n_lines_dropped); documents whose
    every line was seen earlier come back with empty text (callers filter).

    Scale shape: the only wide ops are one shuffle on the 16-byte line
    hash (window keep-first) and one on the doc id (reassembly groupBy) —
    line text itself never shuffles twice, and the reassembly's
    collect_list is per-document, bounded by document size."""
    lines = (
        df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(F.split(F.col(text_col), r"\n")).alias("__pos", "__line"),
        )
        .filter(F.length(F.trim(F.col("__line"))) >= min_line_chars)
        .withColumn("__h", F.md5(F.col("__line")))
    )
    w = Window.partitionBy("__h").orderBy("__id", "__pos")
    kept = lines.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__keep", F.col("__rn") == 1
    )
    return (
        kept.groupBy("__id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("__keep"), F.struct("__pos", "__line"))
                )
            ).alias("__kl"),
            F.sum(F.when(F.col("__keep"), 0).otherwise(1)).cast("int").alias("n_lines_dropped"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.concat_ws("\n", F.transform("__kl", lambda s: s["__line"])).alias(text_col),
            F.size("__kl").cast("int").alias("n_lines_kept"),
            "n_lines_dropped",
        )
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 13,
) -> DataFrame:
    """ExactSubstr-style corpus deduplication (Lee et al. 2022,
    arXiv:2107.06499, "Deduplicating Training Data Makes Language Models
    Better"): any ``k``-token window that already occurred earlier in the
    corpus (global order = (doc id, position); the first occurrence is
    canonical) is removed from the later document — repeated boilerplate,
    licenses, and templated spans disappear from every copy but the first.

    The reference implementation builds a corpus-wide suffix array; that is
    re-expressed relationally so it shards: windows are md5-hashed, the
    canonical occurrence per hash is one keep-first window function, later
    occurrences explode to their covered token positions, and documents are
    rebuilt from the surviving tokens. Same survivor rule as
    ``line_dedup_corpus`` one level down (tokens instead of lines).

    Returns (id, text, n_tokens_kept, n_tokens_removed); a document whose
    every token was covered comes back with empty text (callers filter).
    Documents shorter than ``k`` tokens have no windows and pass unchanged.

    Scale shape: the wide ops are the window-hash shuffle (16-byte digests,
    never window text), the removed-position distinct and its co-partitioned
    join against the token relation on (doc, pos), and the per-document
    reassembly groupBy — all on bounded keys; per-doc state is the document
    length, exactly like line_dedup. O(n·k) slice work per doc is the price
    of windowing without a suffix array (k is a small constant). The text
    column is deliberately scanned TWICE (once for windows, once for
    tokens): the single-scan alternative — explode tokens zipped with
    their window hashes and persist — materializes a relation ~6× the
    text size (a 32-char digest per token position), and measured ~25%
    slower at sf0.1; two column-pruned scans beat caching the blow-up at
    any scale, so this is the documented choice, not an oversight.
    """
    base = df.select(
        F.col(id_col).alias("__id"), F.split(F.col(text_col), " ").alias("__t")
    )
    n = F.size("__t")
    # (pos, window-hash) per k-token window; 1-based positions. sequence()
    # would count DOWN for docs shorter than k — gate to an empty array.
    wins = base.select(
        "__id",
        F.explode(
            F.when(
                n >= k,
                F.transform(
                    F.sequence(F.lit(1), n - k + 1),
                    lambda p: F.struct(
                        p.alias("__p"),
                        F.md5(
                            F.concat_ws(" ", F.slice("__t", p, k))
                        ).alias("__h"),
                    ),
                ),
            ).otherwise(F.array())
        ).alias("__w"),
    ).select("__id", "__w.__p", "__w.__h")
    first = Window.partitionBy("__h").orderBy("__id", "__p")
    removed_pos = (
        wins.withColumn("__rn", F.row_number().over(first))
        .filter(F.col("__rn") > 1)
        .select(
            "__id", F.explode(F.sequence("__p", F.col("__p") + k - 1)).alias("__pos")
        )
        .distinct()  # overlapping duplicate windows cover the same token
        .withColumn("__rm", F.lit(True))
    )
    toks = base.select(
        "__id", F.posexplode("__t").alias("__pos0", "__tok")
    ).select("__id", (F.col("__pos0") + 1).alias("__pos"), "__tok")
    flagged = toks.join(removed_pos, ["__id", "__pos"], "left")
    return (
        flagged.groupBy("__id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("__rm").isNull(), F.struct("__pos", "__tok"))
                )
            ).alias("__kt"),
            F.sum(F.when(F.col("__rm").isNull(), 0).otherwise(1))
            .cast("int")
            .alias("n_tokens_removed"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.concat_ws(" ", F.transform("__kt", lambda s: s["__tok"])).alias(
                text_col
            ),
            F.size("__kt").cast("int").alias("n_tokens_kept"),
            "n_tokens_removed",
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    bench_text_col: str,
    *,
    n: int = 13,
    base_hash=xxhash_base_hash,
) -> DataFrame:
    """Drop training documents sharing any word ``n``-gram with a benchmark
    set — the standard eval-decontamination pass (GPT-3 App. C / PaLM-style
    13-gram overlap) a training-data pipeline must run before every release.

    Plan shape at 100 TB: both sides explode to DISTINCT hashed n-grams
    (64-bit digests, never gram strings, cross the network); the benchmark
    side is tiny by construction — eval suites, not corpora — so the overlap
    join broadcasts it and the only wide op is the contaminated-id distinct.
    Returns the surviving rows of ``df`` unchanged (left_anti on the
    contaminated ids).
    """
    def grams(rel: DataFrame, col: str, out: str) -> DataFrame:
        toks = F.filter(F.split(F.lower(F.trim(F.col(col))), r"\s+"), lambda t: t != "")
        rel = rel.withColumn("__tk", toks)
        k = F.size(F.col("__tk")) - (n - 1)
        g = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(F.col("__tk"), i, n)),
            )
        )
        # docs shorter than n words contribute their whole text as one gram
        # (matching the shingles() convention) — still a valid overlap unit
        return rel.withColumn("__g", F.explode(g)).select(
            *([out] if out else []), base_hash(F.col("__g")).alias("__h")
        )

    doc_grams = grams(df.select(id_col, text_col), text_col, id_col)
    bench_grams = grams(
        benchmark.select(bench_text_col), bench_text_col, ""
    ).distinct()
    contaminated = (
        doc_grams.join(F.broadcast(bench_grams), "__h").select(id_col).distinct()
    )
    return df.join(contaminated, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


SIMHASH_BITS = 63  # non-negative bigint; bit 63 would need unsigned handling


def simhash(text: Column, base_hash=F.xxhash64) -> Column:
    """63-bit SimHash over whitespace tokens as a non-negative bigint.

    Per bit b: sum over token-hashes of ±1 depending on bit b; sign → bit.
    Entirely built-in (nested higher-order functions), no UDF. Bit 63 would
    need unsigned handling, hence 63 bits.

    ``base_hash`` defaults to raw xxhash64; pass ``md5_base_hash`` (60
    non-negative bits — bits 60-62 then always clear, consistently on both
    engines) for an externally-verifiable sketch.

    Single-pass form: tokens are base-hashed ONCE via a ``transform`` and
    the aggregate's step sees the hash only as its lambda variable. With
    the hash spelled inside the step it sits as a subtree under the
    per-mask transform, and interpreted HOFs re-evaluate it for every one
    of the 63 masks — once per token *per bit*.
    """
    toks = F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != "")
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(SIMHASH_BITS)])
    hashed = F.transform(toks, lambda t: base_hash(t))

    def step(acc: Column, h: Column) -> Column:
        signs = F.transform(
            masks, lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)
        )
        return F.zip_with(acc, signs, lambda a, s: a + s)

    counts = F.aggregate(hashed, F.array_repeat(F.lit(0), SIMHASH_BITS), step)
    bits = F.zip_with(
        counts, masks, lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures: popcount via bin()."""
    x = a.bitwiseXOR(b)
    return F.length(F.regexp_replace(F.bin(x), "0", ""))


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_distance: int = 3,
    block_bits: int = 16,
    base_hash=F.xxhash64,
) -> DataFrame:
    """Near-dup pairs with SimHash ≤ max_distance, blocked on the signature's
    top ``block_bits`` bits to avoid the full cross join. (Docs differing
    only in low bits of different blocks are missed — standard
    multi-block-probing would run this with rotated blocks; one block
    suffices for the engine's test surface and keeps one shuffle.)

    The signature relation feeds both sides of the self-join; persisted so
    the (interpreted, CPU-dense) sketch runs once."""
    sig = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("__id"),
            simhash(F.col(text_col), base_hash=base_hash).alias("__sim"),
        )
        .withColumn("__blk", F.shiftrightunsigned("__sim", SIMHASH_BITS - block_bits))
        .persist()
    )
    l, r = sig.alias("l"), sig.alias("r")
    return (
        l.join(r, (F.col("l.__blk") == F.col("r.__blk")) & (F.col("l.__id") < F.col("r.__id")))
        .withColumn("distance", hamming64(F.col("l.__sim"), F.col("r.__sim")))
        .filter(F.col("distance") <= max_distance)
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.col("distance").cast("int").alias("distance"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (blocked exact similarity, no sketching)
# ---------------------------------------------------------------------------


def ngram_jaccard_exact_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool = False,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard ≥ threshold via candidate equi-joins
    (All-Pairs / PPJoin family, Bayardo et al. WWW'07 & Xiao et al.
    WWW'08 — public designs, original implementation): no O(n²) cross
    product, no sketch recall loss. Complements ``ngram_jaccard_pairs``
    (min-hash blocked, probabilistic recall) when exactness is required.

    Two exact plans behind ``prefix_filter`` (A/B'd at sf0.1 — see
    BENCHDIFF r08; both return identical rows, property-tested):

    * ``False`` (default): explode EVERY hashed shingle, equi-join with
      length-ratio pruning (J ≥ t forces t·|A| ≤ |B| ≤ |A|/t), count
      |A∩B| in the join's groupBy, union by inclusion–exclusion. One
      join, fully codegen'd — the right plan at moderate token skew.
    * ``True``: PPJoin prefix filtering — under the global hash order a
      qualifying pair must share a token within each side's first
      |x| − ⌈t·|x|⌉ + 1 smallest hashes (if the prefixes were disjoint
      the overlap could not reach ⌈t·|x|⌉), so ONLY prefixes explode for
      candidate generation; candidates verify with one sorted-array
      intersection per surviving pair. At heavy token-frequency skew the
      hot shingle's join fan-out shrinks by the prefix ratio (~1−t),
      which is the difference between a bounded and an exploding shuffle
      on a 100 TB corpus with boilerplate n-grams.
    """
    if prefix_filter:
        return _ngram_jaccard_ppjoin(df, text_col, id_col, n, threshold)
    # Shape chosen to stay inside whole-stage codegen end-to-end: shingles
    # are hashed to 8-byte longs (set identity up to 2^-64 collisions;
    # shingles are already distinct per doc), exploded, and equi-joined on
    # the hash with length-ratio pruning, then |A∩B| falls out of a
    # groupBy count. No array intersections (interpreted HOFs) in the
    # pair path — pair count here equals the token-join output, so a
    # per-pair HOF would sit on the widest relation in the plan.
    tok = (
        _shingled(df, text_col, id_col, n)
        .withColumn("__sz", F.size("__sh"))
        .select(
            "__id",
            "__sz",
            F.explode(F.transform("__sh", lambda s: F.xxhash64(s))).alias("__tok"),
        )
    )
    pairs = (
        tok.alias("l")
        .join(
            tok.alias("r"),
            (F.col("l.__tok") == F.col("r.__tok"))
            & (F.col("l.__id") < F.col("r.__id"))
            & (F.col("l.__sz") * threshold <= F.col("r.__sz"))
            & (F.col("r.__sz") * threshold <= F.col("l.__sz")),
        )
        .groupBy(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.col("l.__sz").alias("sz_a"),
            F.col("r.__sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    jac = F.col("__i") / (F.col("sz_a") + F.col("sz_b") - F.col("__i"))
    return (
        pairs.filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def _ngram_jaccard_ppjoin(
    df: DataFrame, text_col: str, id_col: str, n: int, threshold: float
) -> DataFrame:
    """The ``prefix_filter=True`` plan of :func:`ngram_jaccard_exact_pairs`.

    1. one doc-level relation (id, sorted hashed shingles, size) — built
       once, reused for prefix explode and both verify joins;
    2. candidates: explode each doc's prefix (its |x| − ⌈t·|x|⌉ + 1
       smallest hashes), self-equi-join on the hash with id-order and
       length-ratio pruning, distinct pair ids;
    3. verify: two hash joins pull the full sorted arrays, one
       ``array_intersect`` per CANDIDATE (already pruned — the HOF sits
       on the narrow relation, unlike in the default plan where pair
       count equals join output).
    """
    docs = (
        _shingled(df, text_col, id_col, n)
        .select(
            "__id",
            F.array_sort(F.transform("__sh", lambda s: F.xxhash64(s))).alias(
                "__hs"
            ),
            F.size("__sh").alias("__sz"),
        )
        # localCheckpoint, not persist: three consumers share the
        # materialization, and the blocks are reclaimed by the context
        # cleaner once the returned plan is dropped — a persist() here
        # would pin the relation in the cache for the session lifetime
        # (this op has no loop that owns an unpersist point). Lazy, so
        # building the plan costs nothing until the caller acts on it.
        # TRADE-OFF: localCheckpoint truncates lineage, so blocks live
        # only on executors with NO recompute path — an executor lost
        # after materialization fails the downstream consumers outright
        # where persist would silently recompute. On preemptible/spot
        # clusters prefer the ngram_jaccard_exact_pairs default plan
        # (prefix_filter=False), or re-run the job on failure: the op is
        # deterministic and side-effect-free.
        .localCheckpoint(eager=False)
    )
    prefix_len = F.greatest(
        F.lit(1),
        (F.col("__sz") - F.ceil(F.col("__sz") * F.lit(threshold)) + 1).cast(
            "int"
        ),
    )
    pref = docs.select(
        "__id", "__sz", F.explode(F.slice("__hs", 1, prefix_len)).alias("__tok")
    )
    cand = (
        pref.alias("l")
        .join(
            pref.alias("r"),
            (F.col("l.__tok") == F.col("r.__tok"))
            & (F.col("l.__id") < F.col("r.__id"))
            & (F.col("l.__sz") * threshold <= F.col("r.__sz"))
            & (F.col("r.__sz") * threshold <= F.col("l.__sz")),
        )
        .select(
            F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b")
        )
        .distinct()
    )
    ver = (
        cand.join(
            docs.select(
                F.col("__id").alias("id_a"),
                F.col("__hs").alias("__ha"),
                F.col("__sz").alias("sz_a"),
            ),
            "id_a",
        )
        .join(
            docs.select(
                F.col("__id").alias("id_b"),
                F.col("__hs").alias("__hb"),
                F.col("__sz").alias("sz_b"),
            ),
            "id_b",
        )
        .withColumn("__i", F.size(F.array_intersect("__ha", "__hb")))
    )
    jac = F.col("__i") / (F.col("sz_a") + F.col("sz_b") - F.col("__i"))
    return (
        ver.filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs blocked by a cheap key
    (shared minimum shingle hash — any pair with Jaccard ≥ t shares the
    global min-shingle with probability ≥ t). One groupBy shuffle on the
    block key; exact verify inside blocks. Persisted: the blocked relation
    feeds both sides of the self-join."""
    base = (
        _shingled(df, text_col, id_col, n)
        .withColumn("__blk", F.array_min(F.transform("__sh", lambda s: F.xxhash64(s))))
        .persist()
    )
    l, r = base.alias("l"), base.alias("r")
    return (
        l.join(r, (F.col("l.__blk") == F.col("r.__blk")) & (F.col("l.__id") < F.col("r.__id")))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("l.__sh", "r.__sh"))
            / F.size(F.array_union("l.__sh", "r.__sh")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.round("jaccard", 4).alias("jaccard"),
        )
    )
