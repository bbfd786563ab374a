"""Text-analysis scalars for the training-data pipeline tier.

The reference only *declared* text analytics (jieba/snownlp in
``airflow/requirements.txt:9-11``, no committed call-site) — this module makes
the surface real, as pure column expressions so every one of them is
oracle-checkable against DuckDB SQL and stays inside codegen at 100 TB.

All functions operate on a whitespace-tokenizable text column (the driver's
``documents.text``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately small + hard-coded so the SQL oracle can replicate
#: them verbatim.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
}

#: Punctuation set counted by the quality score (explicit, not \p{Punct},
#: so Spark and DuckDB agree bit-for-bit).
_PUNCT_RE = r"[.,!?;:]"

STOPWORDS = LANG_MARKERS["en"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string → empty array (not ['''])."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def punct_count(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, _PUNCT_RE, ""))


def _marker_hits(toks: Column, words: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, F.lower(t))))


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are (English) stopwords, 0.0 for empty docs."""
    toks = tokens(text)
    return F.when(F.size(toks) > 0, _marker_hits(toks, STOPWORDS) / F.size(toks)).otherwise(F.lit(0.0))


def quality_rules_passed(text: Column) -> Column:
    """Integer count (0-3) of passed quality rules: length band 5-5000
    tokens, punctuation ratio < 0.1, stopword presence. The single source
    of the rule thresholds — ``quality_score`` and the curriculum tiering
    both derive from it, so a threshold change cannot silently diverge."""
    n_tok = token_count(text)
    len_ok = ((n_tok >= 5) & (n_tok <= 5000)).cast("int")
    punct_ratio = F.when(
        F.length(text) > 0, punct_count(text) / F.length(text)
    ).otherwise(F.lit(0.0))
    punct_ok = (punct_ratio < 0.1).cast("int")
    stop_ok = (stopword_ratio(text) > 0.0).cast("int")
    return len_ok + punct_ok + stop_ok


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: rules passed / 3. Left
    unrounded — a single IEEE division of exact operands is deterministic
    across engines, whereas round() half-modes are not."""
    return quality_rules_passed(text).cast("double") / F.lit(3.0)


def lang_id(text: Column) -> Column:
    """Stopword-marker language ID: argmax of per-language marker hits with a
    CJK-character override; deterministic tie-break en>es>de>fr; 'und' when
    nothing matches."""
    toks = tokens(text)
    hits = {lang: _marker_hits(toks, words) for lang, words in LANG_MARKERS.items()}
    has_cjk = F.length(F.regexp_replace(text, r"[^一-鿿]", "")) > 0
    best = F.greatest(*hits.values())
    return (
        F.when(has_cjk, F.lit("zh"))
        .when(best == 0, F.lit("und"))
        .when(hits["en"] == best, F.lit("en"))
        .when(hits["es"] == best, F.lit("es"))
        .when(hits["de"] == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )


#: BPE-ish pre-tokenization regex (GPT-2-style, simplified to the subset
#: Java regex and RE2 evaluate identically — no lookaheads, no \p classes):
#: a leading-space-glued letter run, digit run, or punctuation run.
BPE_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_tokens(text: Column) -> Column:
    """BPE-style pre-tokens (the unit an LLM tokenizer would merge from) —
    the training-data token counter that whitespace splitting undercounts."""
    return F.regexp_extract_all(text, F.lit(BPE_RE), 0)


def bpe_token_count(text: Column) -> Column:
    return F.size(bpe_tokens(text))


def bpe_pair_counts(df, text_col: str, *, k: int = 20):
    """Corpus-wide adjacent pre-token pair frequencies, top ``k`` — ONE
    iteration of BPE merge training (Sennrich et al. 2016,
    arXiv:1508.07909): the most frequent pair is the next merge rule. Kept
    single-iteration on purpose — each merge rewrites the corpus, so a full
    trainer is a driver loop over this primitive with the merge applied
    between rounds.

    Shape: pre-tokens are staged in their own projection (HOF discipline:
    the regex runs once per doc, not once per pair), pairs are built by an
    index-aware transform reading the staged array, and the count is an
    ordinary explode → groupBy — partial map-side aggregation, pair-key
    shuffle bounded by distinct pairs, final (count desc, pair) top-k.
    Returns (pair, n) with the two tokens joined by U+0001. Caveat: a
    pathological document containing U+0001 itself (the punctuation-run
    alternative of BPE_RE keeps control characters) can make two distinct
    token pairs render — and therefore count — as one; strip control
    characters upstream if the corpus can contain them.
    """
    staged = df.select(bpe_tokens(F.col(text_col)).alias("__toks"))
    pairs = F.when(
        F.size("__toks") >= 2,
        F.transform(
            F.slice(F.col("__toks"), 1, F.size("__toks") - 1),
            lambda x, i: F.concat(
                x, F.lit("\u0001"), F.element_at(F.col("__toks"), i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        staged.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(k)
    )


#: Rolling-hash parameters: base 31, modulus 2^56 — acc*31+cp < 2^62 stays
#: inside a 64-bit long with no overflow under ANSI arithmetic.
_RH_MOD = 1 << 56


def rolling_hash(text: Column) -> Column:
    """Order-SENSITIVE polynomial rolling hash (Rabin-Karp) over the
    document's code points: h = Σ cp_i · 31^(n-i) mod 2^56. Complements
    ``fingerprint`` (order-insensitive bag-of-words md5): reordered tokens
    change this value but not that one. F.ascii returns the full code point
    (matching SQL ord()), so the hash is identical cross-engine for any
    unicode text."""
    chars = F.filter(F.split(text, ""), lambda c: c != "")
    h = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * 31 + F.ascii(c), F.lit(_RH_MOD)),
    )
    return F.when(F.length(text) == 0, F.lit(0).cast("long")).otherwise(h)


def fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted, lowercased
    token bag. Robust to token reordering/whitespace — the batch analog of a
    rolling-hash content fingerprint, chosen so the DuckDB oracle can compute
    the identical value."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.transform(tokens(text), F.lower))))


# ---------------------------------------------------------------------------
# Gopher-style document-quality rules (Rae et al. 2021, §A1.1) — the
# standard pretraining-corpus filter battery, as pure column expressions so
# each rule is oracle-checkable and stays inside the scan at 100 TB.
# ---------------------------------------------------------------------------


def mean_word_length(text: Column) -> Column:
    """Mean token length in characters; 0.0 for empty docs. One exact-int
    division → bit-identical across engines."""
    toks = tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def alpha_word_ratio(text: Column) -> Column:
    """Fraction of tokens containing at least one alphabetic character
    (Gopher requires ≥ 0.8); 0.0 for empty docs."""
    toks = tokens(text)
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    return F.when(F.size(toks) > 0, alpha / F.size(toks)).otherwise(F.lit(0.0))


def symbol_word_ratio(text: Column) -> Column:
    """(# + … occurrences) / token count — Gopher's symbol-to-word rule
    (< 0.1); 0.0 for empty docs. Counts both the one-char ellipsis and
    '...' spelled out."""
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ell = F.size(F.regexp_extract_all(text, F.lit(r"\.\.\.|…"), 0))
    toks = tokens(text)
    return F.when(
        F.size(toks) > 0, (n_hash + n_ell) / F.size(toks)
    ).otherwise(F.lit(0.0))


def dup_ngram_fraction(text: Column, n: int) -> Column:
    """Fraction of word n-grams that are repeats of an earlier n-gram:
    1 − distinct/total. The within-document repetition signal behind
    Gopher's dup-n-gram rules; 0.0 when the doc has fewer than n tokens."""
    toks = tokens(text)
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(
        k > 0, F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams)
    ).otherwise(F.lit(0.0))


def dup_line_fraction(text: Column) -> Column:
    """Fraction of newline-separated lines that repeat an earlier line
    (Gopher's duplicate-line rule); 0.0 for single-line docs."""
    lines = F.filter(F.split(text, r"\n"), lambda l: F.trim(l) != "")
    return F.when(
        F.size(lines) > 0,
        F.lit(1.0) - F.size(F.array_distinct(lines)) / F.size(lines),
    ).otherwise(F.lit(0.0))


def gopher_pass(
    text: Column,
    *,
    min_words: int = 5,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    min_alpha_ratio: float = 0.6,
    max_symbol_ratio: float = 0.1,
    max_dup2: float = 0.6,
    max_dup3: float = 0.5,
) -> Column:
    """The combined Gopher gate as one boolean. Thresholds are parameters
    (Gopher's paper values assume web-scale English prose; the defaults here
    are loosened for short synthetic docs) — the *rules* are the contract.

    Scalar convenience form: each rule re-tokenizes (HOFs are interpreted,
    so the duplication is paid in full). In a hot path over a whole corpus
    use ``gopher_metrics``, which stages the tokenization/gram arrays once
    per row."""
    n = token_count(text)
    mwl = mean_word_length(text)
    return (
        (n >= min_words)
        & (n <= max_words)
        & (mwl >= min_mean_word_len)
        & (mwl <= max_mean_word_len)
        & (alpha_word_ratio(text) >= min_alpha_ratio)
        & (symbol_word_ratio(text) < max_symbol_ratio)
        & (dup_ngram_fraction(text, 2) <= max_dup2)
        & (dup_ngram_fraction(text, 3) <= max_dup3)
    )


def top_terms(df, text_col: str, id_col: str, k: int = 3):
    """TF-IDF-ranked top-``k`` terms per document: (id, token, tf, df,
    score, rank) with score = tf/df — the rational (transcendental-free)
    idf surrogate, so the value is bit-identical on any engine (a log-based
    idf ranks identically for a fixed corpus but its last-ULP float differs
    between libm implementations, which would break value-hash checks).

    Plan: explode tokens → (id, token) counts [1 shuffle] → token document
    frequency from the SAME aggregate [1 shuffle on token] → join back on
    token [co-partitioned by the previous shuffle] → per-doc top-k window.
    The vocabulary relation is usually broadcastable but is joined on the
    token shuffle key here so the plan survives web-scale vocabularies."""
    from pyspark.sql import Window

    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
    )
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
    )
    docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).cast("int").alias("df"))
    scored = tf.join(docfreq, "token").withColumn(
        "score", F.col("tf") / F.col("df")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(id_col, "token", "tf", "df", "score", "rank")
    )


def chunk_text(df, text_col: str, id_col: str, max_tokens: int = 128):
    """Fixed-size token chunking: split each document into consecutive
    ``max_tokens``-token chunks at whitespace boundaries — the unit-of-work
    transform feeding context-window-bounded training/embedding jobs.
    Returns (id, chunk_idx, chunk, n_tokens); empty docs yield no chunks.

    Narrow per-row explode (no shuffle): output rows ≈ corpus_tokens /
    max_tokens regardless of document skew, so one 1 GB document becomes
    many rows instead of one straggler task downstream."""
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != "")
    staged = df.select(F.col(id_col), toks.alias("__tk")).filter(
        F.size("__tk") > 0
    )
    n_chunks = F.floor((F.size("__tk") - 1) / max_tokens).cast("int") + 1
    return (
        staged.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .select(
            id_col,
            "chunk_idx",
            F.concat_ws(
                " ", F.slice("__tk", F.col("chunk_idx") * max_tokens + 1, max_tokens)
            ).alias("chunk"),
            F.size(
                F.slice("__tk", F.col("chunk_idx") * max_tokens + 1, max_tokens)
            ).alias("n_tokens"),
        )
    )


def gopher_metrics(df, text_col: str, id_cols: list[str]):
    """DataFrame-level Gopher battery: (ids…, n_words, mean_word_len,
    alpha_ratio, symbol_ratio, dup2, dup_lines, passes) with every
    higher-order expression staged in its own projection so it is evaluated
    exactly once per row (CollapseProject declines to inline multi-use
    non-cheap aliases — the same discipline as ``_shingled``). ~3× the
    throughput of the scalar spelling; identical values."""
    t = F.col(text_col)
    toks = F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != "")
    staged = df.select(*id_cols, t.alias("__t"), toks.alias("__tk"))
    staged = staged.select(
        *id_cols,
        F.size("__tk").alias("__n"),
        F.aggregate("__tk", F.lit(0).cast("long"), lambda a, x: a + F.length(x)).alias("__chr"),
        F.size(F.filter("__tk", lambda x: x.rlike("[A-Za-z]"))).alias("__alpha"),
        (F.length("__t") - F.length(F.regexp_replace("__t", "#", ""))).alias("__hash"),
        F.size(F.regexp_extract_all("__t", F.lit(r"\.\.\.|…"), 0)).alias("__ell"),
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("__tk") - 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice("__tk", i, 2)),
        ).alias("__g2"),
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("__tk") - 2, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice("__tk", i, 3)),
        ).alias("__g3"),
        F.filter(F.split("__t", r"\n"), lambda l: F.trim(l) != "").alias("__ln"),
    )
    n = F.col("__n")
    staged = staged.select(
        *id_cols,
        n.cast("int").alias("n_words"),
        F.when(n > 0, F.col("__chr") / n).otherwise(0.0).alias("mean_word_len"),
        F.when(n > 0, F.col("__alpha") / n).otherwise(0.0).alias("alpha_ratio"),
        F.when(n > 0, (F.col("__hash") + F.col("__ell")) / n).otherwise(0.0).alias("symbol_ratio"),
        F.when(n - 1 > 0, F.lit(1.0) - F.size(F.array_distinct("__g2")) / F.size("__g2"))
        .otherwise(0.0)
        .alias("dup2"),
        F.when(F.size("__ln") > 0, F.lit(1.0) - F.size(F.array_distinct("__ln")) / F.size("__ln"))
        .otherwise(0.0)
        .alias("dup_lines"),
        F.when(n - 2 > 0, F.lit(1.0) - F.size(F.array_distinct("__g3")) / F.size("__g3"))
        .otherwise(0.0)
        .alias("__dup3"),
    )
    return staged.select(
        *id_cols,
        "n_words",
        "mean_word_len",
        "alpha_ratio",
        "symbol_ratio",
        "dup2",
        "dup_lines",
        (
            (F.col("n_words") >= 5)
            & (F.col("n_words") <= 100_000)
            & (F.col("mean_word_len") >= 2.0)
            & (F.col("mean_word_len") <= 12.0)
            & (F.col("alpha_ratio") >= 0.6)
            & (F.col("symbol_ratio") < 0.1)
            & (F.col("dup2") <= 0.6)
            & (F.col("__dup3") <= 0.5)
        ).alias("passes"),
    )


def top_ngram_stats(df, text_col: str, id_cols: list[str], *, n: int = 2):
    """Gopher's *top n-gram character fraction* signal (Rae et al. 2021,
    arXiv:2112.11446 §A1.1): for each document, find the most frequent
    token n-gram and report the fraction of the document's token characters
    covered by its occurrences. Complements ``dup_ngram_fraction`` (which
    measures distinct-ratio repetition, not single-gram dominance) —
    boilerplate pages score high here while staying under the dup radar.

    Relational shape, scale-safe: grams are built per row with HOFs (narrow),
    exploded, counted by (doc, gram) — a key whose cardinality is bounded by
    total tokens, partitioned evenly — and the per-doc argmax is the same
    map-side struct-MIN used by the fuzzy join (min over (-count, gram):
    max count, ties to the lexicographically smallest gram, deterministic).
    Docs with fewer than ``n`` tokens come back with a NULL gram and 0.0
    fraction via the final left join against the per-doc totals (narrow:
    both sides share the id).

    Occurrences are counted over the overlapping sliding-window gram list;
    covered characters are ``count × token-chars-in-gram`` — overlapping
    occurrences may double-count characters, which keeps both engines'
    arithmetic identical (the paper's signal is a threshold feature, not a
    measure-theoretic quantity). Returns (ids…, top_gram, top_gram_n,
    top_gram_char_frac).

    The tokenized base feeds both the gram-count branch and the final
    short-doc join, so it is ``persist()``-ed — tokenizing twice measured
    slower at sf0.1 (unlike substring dedup's 6×-blowup relation, this one
    is ~text-sized). Same caching contract as ``semantic_dedup``: released
    by ``spark.catalog.clearCache()`` or session end; at 100 TB materialize
    the tokenized relation instead.
    """
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != "")
    base = df.select(*id_cols, toks.alias("__tk")).select(
        *id_cols,
        "__tk",
        F.aggregate(
            "__tk", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("__total"),
    ).persist()
    grams = F.when(
        F.size("__tk") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("__tk") - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice("__tk", i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        base.select(*id_cols, "__total", F.explode(grams).alias("__gram"))
        .groupBy(*id_cols, "__total", "__gram")
        .agg(F.count(F.lit(1)).alias("__n_occ"))
    )
    top = counts.groupBy(*id_cols, "__total").agg(
        F.min(
            F.struct((-F.col("__n_occ")).alias("__neg"), F.col("__gram"))
        ).alias("__b")
    )
    picked = top.select(
        *id_cols,
        F.col("__b.__gram").alias("top_gram"),
        (-F.col("__b.__neg")).alias("top_gram_n"),
        (
            (-F.col("__b.__neg")) * (F.length("__b.__gram") - (n - 1))
        ).cast("double").alias("__covered"),
    )
    return (
        base.select(*id_cols, "__total")
        .join(picked, id_cols, "left")
        .select(
            *id_cols,
            "top_gram",
            F.coalesce("top_gram_n", F.lit(0).cast("long")).alias("top_gram_n"),
            F.when(
                F.col("__covered").isNotNull() & (F.col("__total") > 0),
                F.col("__covered") / F.col("__total"),
            )
            .otherwise(0.0)
            .alias("top_gram_char_frac"),
        )
    )


def pack_chunks(
    chunks,
    *,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    tokens_col: str = "n_tokens",
    seq_tokens: int = 256,
    n_buckets: int = 16,
    base_hash=None,
):
    """Sequence packing: assign fixed-size chunks to training sequences of
    ~``seq_tokens`` tokens — the step between ``chunk_text`` and a trainer
    that wants dense, fixed-length examples (concat-and-cut packing).

    Strategy: documents are hash-assigned to ``n_buckets`` independent
    packing streams; within a stream chunks are laid end-to-end in
    (doc, chunk) order and a chunk belongs to the sequence where its first
    token lands (``floor(exclusive_cumsum / seq_tokens)``). A chunk that
    straddles a boundary stays in its starting sequence, so a sequence can
    overflow by at most one chunk — the standard best-effort trade that
    keeps packing a single window pass instead of a sequential first-fit.

    Scale: the window partitions by bucket, so packing parallelizes across
    ``n_buckets`` × shuffle — no global single-partition sort. At 100 TB,
    size ``n_buckets`` ≥ cluster parallelism; streams stay independent so
    adding buckets never changes intra-stream layout, only how many run at
    once. Returns (bucket, seq_id, id, idx, n_tokens, seq_offset)."""
    from pyspark.sql import Window

    from tibame_project_spark.operators.dedup import xxhash_base_hash

    bh = base_hash or xxhash_base_hash
    bucket = (bh(F.col(id_col).cast("string")) % n_buckets).cast("int")
    staged = chunks.select(
        bucket.alias("bucket"), id_col, idx_col, tokens_col
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col, idx_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum(tokens_col).over(w), F.lit(0).cast("long"))
    return staged.select(
        "bucket",
        id_col,
        idx_col,
        F.col(tokens_col),
        F.floor(cum / seq_tokens).cast("int").alias("seq_id"),
        (cum % seq_tokens).cast("int").alias("seq_offset"),
    )


#: C4-style boilerplate line rules (Raffel et al. 2020 §2.2, public method):
#: a line survives only if it ends in terminal punctuation, has at least
#: three words, and contains no code/boilerplate markers. The marker list is
#: explicit (not a regex class) so a SQL oracle replicates it verbatim.
C4_LINE_MIN_WORDS = 3
C4_BAD_MARKERS = ("lorem ipsum", "javascript", "{")


def c4_line_filter(df, text_col: str, id_col: str):
    """C4 boilerplate line filtering: drop lines that don't end in terminal
    punctuation (``.!?"``), have fewer than three words, or contain a
    boilerplate marker; reassemble surviving lines in document order.
    Returns (id, text, n_lines_kept, n_lines_dropped); fully-boilerplate
    documents come back with empty text (callers filter).

    Scale shape: narrow per-row explode → per-line column predicates →
    one groupBy on the doc id for reassembly. No corpus-wide state (unlike
    ``line_dedup_corpus``), so the only shuffle is the reassembly."""
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("__pos", "__line"),
    )
    t = F.trim(F.col("__line"))
    lw = F.lower(t)
    n_words = F.size(F.filter(F.split(t, r"\s+"), lambda x: x != ""))
    keep = t.rlike('[.!?"]$') & (n_words >= C4_LINE_MIN_WORDS)
    for marker in C4_BAD_MARKERS:
        keep = keep & ~lw.contains(marker)
    kept = lines.withColumn("__keep", keep)
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


def unigram_lm_score(df, text_col: str, id_col: str):
    """Statistical language-model quality proxy: score each document by the
    corpus-frequency of its own tokens — the shape of a perplexity filter
    (CCNet-style) with the corpus itself as the unigram LM, so no external
    model is needed and every value stays rational (exact across engines;
    a real KenLM scorer would slot into the same plan as a pandas UDF).

    Returns (id, n_tokens, sum_freq, mean_freq, rare_ratio): ``sum_freq``
    sums each token occurrence's corpus count (exact bigint), ``mean_freq``
    divides once at the end (one double op, no accumulation drift), and
    ``rare_ratio`` is the fraction of occurrences whose token appears
    exactly once in the corpus — high values flag gibberish.

    Scale shape: explode → (token) count agg → join back on the token
    shuffle key (co-partitioned, not broadcast — survives web-scale
    vocabularies) → per-doc agg. Same 3-shuffle budget as ``top_terms``."""
    occ = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    vocab = occ.groupBy("token").agg(F.count(F.lit(1)).alias("__cnt"))
    return (
        occ.join(vocab, "token")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.sum("__cnt").alias("sum_freq"),
            (F.sum("__cnt") / F.count(F.lit(1))).alias("mean_freq"),
            (
                F.sum(F.when(F.col("__cnt") == 1, 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("rare_ratio"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_tokens", "sum_freq", "mean_freq", "rare_ratio",
        )
    )


def bigram_lm_score(df, text_col: str, id_col: str):
    """Bigram conditional-frequency quality proxy -- the 2-gram extension
    of ``unigram_lm_score``: score each document by how much of its
    adjacent-pair mass the corpus itself has seen (the shape of a
    KenLM/CCNet perplexity filter, with the corpus as its own bigram LM
    and every value rational, so any engine reproduces it bit-for-bit; a
    real n-gram model would slot into the same plan as a broadcast table
    or pandas UDF).

    Returns (id, n_pairs, sum_pair_cnt, sum_ctx_cnt, cond_score,
    novel_ratio): per pair occurrence the corpus-wide pair count and
    left-context (first-token-as-context) count are summed exactly
    (bigints); ``cond_score`` = sum_pair_cnt / sum_ctx_cnt divides ONCE at
    the end -- an aggregate stand-in for the product of p(w2|w1) that
    needs no logs -- and ``novel_ratio`` is the fraction of pairs seen
    exactly once corpus-wide (gibberish flag). Documents with fewer than
    2 tokens have no pairs and produce no row (same as the SQL oracle's
    unnest). Pairs are keyed w1 + U+0001 + w2 -- same separator caveat as
    ``bpe_pair_counts``.

    Scale shape: staged token projection (HOF discipline -- the tokenizer
    runs once per doc), index-aware pair transform, explode, then the pair
    vocabulary and the context vocabulary are joined back ON THEIR OWN
    shuffle keys -- co-partitioned, never broadcast, so web-scale bigram
    vocabularies survive -- and one per-doc aggregate. 4 shuffles total.
    """
    staged = df.select(
        F.col(id_col).alias("__id"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    pairs = F.when(
        F.size("__toks") >= 2,
        F.transform(
            F.slice(F.col("__toks"), 1, F.size("__toks") - 1),
            lambda x, i: F.struct(
                x.alias("w1"),
                F.concat(
                    x, F.lit("\u0001"), F.element_at(F.col("__toks"), i + 2)
                ).alias("pr"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,pr:string>>"))
    occ = staged.select("__id", F.explode(pairs).alias("__p")).select(
        "__id", F.col("__p.w1").alias("__w1"), F.col("__p.pr").alias("__pr")
    )
    pair_cnt = occ.groupBy("__pr").agg(F.count(F.lit(1)).alias("__c2"))
    ctx_cnt = occ.groupBy("__w1").agg(F.count(F.lit(1)).alias("__c1"))
    return (
        occ.join(pair_cnt, "__pr")
        .join(ctx_cnt, "__w1")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_pairs"),
            F.sum("__c2").alias("sum_pair_cnt"),
            F.sum("__c1").alias("sum_ctx_cnt"),
            (F.sum("__c2") / F.sum("__c1")).alias("cond_score"),
            (
                F.sum(F.when(F.col("__c2") == 1, 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("novel_ratio"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_pairs", "sum_pair_cnt", "sum_ctx_cnt", "cond_score", "novel_ratio",
        )
    )
