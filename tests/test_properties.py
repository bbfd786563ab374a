"""Property-based tests (hypothesis): the semantics-heavy scalars hold for
arbitrary inputs, not just the fixtures — zh relative dates against a pure
Python model of the reference's convertDate, and melt/pivot inverses."""

from __future__ import annotations

import datetime as dt

from hypothesis import example, given, settings, strategies as st

from pyspark.sql import functions as F

from tibame_project_spark.functions.dates import convert_relative_date

UNITS = ["分鐘前", "小時前", "天前", "週前", "個月前", "年前", "junk"]


def _model(n: int, unit: str, ts: dt.datetime) -> dt.date | None:
    """Pure-Python twin of the reference's convertDate
    (d_gmaps_reviews_src_to_ods.py:51-62)."""
    if unit == "分鐘前":
        return (ts - dt.timedelta(minutes=n)).date()
    if unit == "小時前":
        return (ts - dt.timedelta(hours=n)).date()
    if unit == "天前":
        return (ts - dt.timedelta(days=n)).date()
    if unit == "週前":
        return (ts - dt.timedelta(days=7 * n)).date()
    if unit == "個月前":
        # month arithmetic on the DATE, clamped to month end (BQ DATE_SUB)
        d = ts.date()
        m = d.year * 12 + (d.month - 1) - n
        y, mo = divmod(m, 12)
        last = (dt.date(y + (mo + 1) // 12, (mo + 1) % 12 + 1, 1) - dt.timedelta(days=1)
                ) if mo != 11 else dt.date(y + 1, 1, 1) - dt.timedelta(days=1)
        return dt.date(y, mo + 1, min(d.day, last.day))
    if unit == "年前":
        d = ts.date()
        try:
            return d.replace(year=d.year - n)
        except ValueError:  # Feb 29 → Feb 28
            return d.replace(year=d.year - n, day=28)
    return None


# one Spark round-trip per case batch keeps this fast
@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=120),
            st.sampled_from(UNITS),
            st.datetimes(
                min_value=dt.datetime(1990, 1, 5),
                max_value=dt.datetime(2035, 12, 28),
            ),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_relative_date_matches_model(spark_global, cases):
    rows = [
        (f"{n}{u}" if u != "junk" else "不明", ts.replace(microsecond=0))
        for n, u, ts in cases
    ]
    df = spark_global.createDataFrame(rows, "published string, extracted timestamp")
    got = [
        r.d
        for r in df.select(
            convert_relative_date(F.col("published"), F.col("extracted")).alias("d")
        ).collect()
    ]
    want = [
        _model(n, u, ts.replace(microsecond=0)) if u != "junk" else None
        for n, u, ts in cases
    ]
    assert got == want


# ---------------------------------------------------------------------------
# connected components vs a union-find model (protects the pointer-jump +
# round-gating rewrite: labels must equal the min node id of each component
# for ARBITRARY graphs, not just the fixtures)
# ---------------------------------------------------------------------------

def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_connected_components_matches_union_find(spark_global, edges):
    from tibame_project_spark.operators.dedup import connected_components

    pairs = spark_global.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r.node: r.component for r in connected_components(pairs).collect()
    }
    assert got == _uf_components(edges)


# ---------------------------------------------------------------------------
# semantic_dedup vs a pure-Python model: cell assignment (argmax cosine,
# smallest-anchor tie-break) and smallest-id-survivor semantics for
# arbitrary non-zero integer vectors. Python floats are IEEE doubles and
# the model folds sums in the same left-to-right order as the Spark HOFs,
# so cosines are bit-identical — no tolerance needed.
# ---------------------------------------------------------------------------

def _cos(a: list[int], b: list[int]) -> float:
    import math

    dot = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    na = 0.0
    for x in a:
        na += float(x) * float(x)
    nb = 0.0
    for y in b:
        nb += float(y) * float(y)
    return dot / (math.sqrt(na) * math.sqrt(nb))


def _semdedup_model(
    vecs: dict[int, list[int]], anchor_ids: list[int], threshold: float
) -> dict[int, int]:
    cell = {
        i: min(
            anchor_ids,
            key=lambda c: (-_cos(v, vecs[c]), c),
        )
        for i, v in vecs.items()
    }
    # the engine drops i when ANY smaller-id j in its cell is within
    # threshold — including j's that were themselves dropped (pairwise
    # relation, not a greedy chain)
    survivors = {}
    for i in sorted(vecs):
        dropped = any(
            j < i and cell[j] == cell[i] and _cos(vecs[i], vecs[j]) >= threshold
            for j in vecs
        )
        if not dropped:
            survivors[i] = cell[i]
    return survivors


@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(
        keys=st.integers(min_value=2, max_value=12),
        values=st.lists(
            st.integers(min_value=-3, max_value=3), min_size=3, max_size=3
        ).filter(lambda v: any(x != 0 for x in v)),
        min_size=1,
        max_size=8,
    )
)
def test_semantic_dedup_matches_model(spark_global, extra):
    from tibame_project_spark.operators.similarity import semantic_dedup

    # ids 0 and 1 are always present and serve as the anchors
    vecs = {0: [1, 0, 0], 1: [0, 1, 0], **extra}
    df = spark_global.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in sorted(vecs.items())],
        "vec_id long, embedding array<double>",
    )
    anchors = df.filter(F.col("vec_id") < 2)
    got = {
        r.vec_id: r.cell
        for r in semantic_dedup(df, anchors, threshold=0.9).collect()
    }
    assert got == _semdedup_model(vecs, [0, 1], 0.9)


# ---------------------------------------------------------------------------
# exact substring dedup vs a pure-Python model: window hashing, global
# first-occurrence rule, covered-span union, and document rebuild hold for
# arbitrary small corpora over a tiny alphabet (which maximizes window
# collisions — the interesting regime)
# ---------------------------------------------------------------------------

def _substr_model(docs: dict[int, str], k: int) -> dict[int, tuple[str, int, int]]:
    toks = {d: t.split(" ") for d, t in docs.items()}
    occurrences: dict[tuple[str, ...], tuple[int, int]] = {}
    for d in sorted(toks):
        for p in range(len(toks[d]) - k + 1):
            w = tuple(toks[d][p : p + k])
            occurrences.setdefault(w, (d, p))
    removed: dict[int, set[int]] = {d: set() for d in toks}
    for d in sorted(toks):
        for p in range(len(toks[d]) - k + 1):
            w = tuple(toks[d][p : p + k])
            if occurrences[w] != (d, p):
                removed[d].update(range(p, p + k))
    out = {}
    for d, t in toks.items():
        kept = [tok for i, tok in enumerate(t) if i not in removed[d]]
        out[d] = (" ".join(kept), len(kept), len(t) - len(kept))
    return out


@settings(max_examples=10, deadline=None)
@given(
    st.dictionaries(
        keys=st.integers(min_value=1, max_value=6),
        values=st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12
        ).map(" ".join),
        min_size=1,
        max_size=4,
    )
)
def test_exact_substring_dedup_matches_model(spark_global, docs):
    from tibame_project_spark.operators.dedup import exact_substring_dedup

    df = spark_global.createDataFrame(
        sorted(docs.items()), ["doc_id", "text"]
    )
    got = {
        r.doc_id: (r.text, r.n_tokens_kept, r.n_tokens_removed)
        for r in exact_substring_dedup(df, "text", "doc_id", k=3).collect()
    }
    assert got == _substr_model(docs, 3)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["hot", "hot", "hot", "warm", "c1", "c2", "c3"]),
            st.floats(
                min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
            ),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_salted_agg_matches_direct_for_any_distribution(spark_global, rows):
    """salted_count_sum must be bit-identical to the direct groupBy for ANY
    key distribution (the sampled_from above is skew-weighted on purpose) —
    decomposability of count and exact decimal sum is what the salt relies
    on."""
    from tibame_project_spark.partitioning import salted_count_sum

    df = spark_global.createDataFrame(rows, "k string, v double").withColumn(
        "uid", F.monotonically_increasing_id()
    )
    got = {
        (r.k, r.n, r.sum_v)
        for r in salted_count_sum(
            df, ["k"], value_col="v", salt_from="uid", buckets=4
        ).collect()
    }
    want = {
        (r.k, r.n, r.sum_v)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("sum_v"),
        )
        .collect()
    }
    assert got == want


def _top_ngram_model(docs: dict[int, str], n: int):
    out = {}
    for did, text in docs.items():
        tk = [t for t in text.split() if t]
        total = sum(len(t) for t in tk)
        grams = [" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)]
        if not grams:
            out[did] = (None, 0, 0.0)
            continue
        counts: dict[str, int] = {}
        for g in grams:
            counts[g] = counts.get(g, 0) + 1
        best = min(counts, key=lambda g: (-counts[g], g))
        covered = counts[best] * (len(best) - (n - 1))
        out[did] = (best, counts[best], covered / total if total else 0.0)
    return out


@settings(max_examples=15, deadline=None)
@given(
    st.dictionaries(
        keys=st.integers(min_value=1, max_value=5),
        values=st.lists(
            st.sampled_from(["aa", "bb", "cc", "x"]), min_size=0, max_size=10
        ).map(" ".join),
        min_size=1,
        max_size=4,
    )
)
def test_top_ngram_stats_matches_model(spark_global, docs):
    """top_ngram_stats agrees with a pure-Python sliding-window model on
    arbitrary token sequences: argmax count, (count, gram) tie order, and
    the covered-character fraction."""
    from tibame_project_spark.functions.textstats import top_ngram_stats

    df = spark_global.createDataFrame(sorted(docs.items()), ["doc_id", "text"])
    got = {
        r.doc_id: (r.top_gram, r.top_gram_n, r.top_gram_char_frac)
        for r in top_ngram_stats(df, "text", ["doc_id"], n=2).collect()
    }
    assert got == _top_ngram_model(docs, 2)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_quantize_dequantize_error_bound_holds(spark_global, vecs):
    """For arbitrary finite vectors the int8 round-trip keeps every element
    within vmax/127 of the original (floor quantization) and inside
    [-vmax, vmax]."""
    from tibame_project_spark.operators.similarity import quantize_dequantize

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark_global.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {
        r.vec_id: r.embedding
        for r in quantize_dequantize(df, "embedding").collect()
    }
    for i, v in rows:
        vmax = max(abs(x) for x in v)
        for orig, dq in zip(v, got[i]):
            if vmax == 0:
                assert dq == 0.0
            else:
                assert abs(dq) <= vmax * (1 + 1e-12)
                assert abs(orig - dq) <= vmax / 127 * (1 + 1e-9)


@settings(max_examples=15, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        st.integers(min_value=1, max_value=120),
        min_size=2,
        max_size=5,
    )
)
def test_temperature_mix_matches_python_model(spark_global, domain_counts):
    """temperature_mix_sample (alpha=0.5, md5 base hash) selects EXACTLY the
    rows a pure-Python replay selects: md5-prefix hash, rate
    sqrt(n_min/n_c), threshold compare — every step IEEE correctly rounded,
    so the keep set is bit-identical, not just statistically close."""
    import hashlib
    import math

    from pyspark.sql import functions as F
    from tibame_project_spark.operators.dedup import md5_base_hash
    from tibame_project_spark.partitioning import temperature_mix_sample

    rows, doc_id = [], 0
    for dom in sorted(domain_counts):
        for _ in range(domain_counts[dom]):
            rows.append((doc_id, dom))
            doc_id += 1
    df = spark_global.createDataFrame(rows, "doc_id long, src string")
    got = {
        r.doc_id
        for r in temperature_mix_sample(
            df, domain_col="src", id_col="doc_id", base_hash=md5_base_hash
        ).collect()
    }
    n_min = min(domain_counts.values())
    scale = 1 << 20
    expected = set()
    for did, dom in rows:
        h = int(hashlib.md5(str(did).encode()).hexdigest()[:15], 16)
        rate = math.sqrt(n_min / domain_counts[dom])
        if h % scale < rate * scale:
            expected.add(did)
    assert got == expected


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _fold_norm(a):
    acc = 0.0
    for x in a:
        acc += x * x
    return acc ** 0.5


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-4, max_value=4, allow_nan=False),
            min_size=3,
            max_size=3,
        ).filter(lambda v: sum(x * x for x in v) > 0.01),
        min_size=2,
        max_size=10,
    ),
    st.lists(
        st.floats(min_value=-4, max_value=4, allow_nan=False),
        min_size=3,
        max_size=3,
    ).filter(lambda v: sum(x * x for x in v) > 0.01),
)
def test_diverse_topk_matches_python_model(spark_global, item_vecs, query_vec):
    """diverse_topk's (ids, labels, ranks) equal a pure-Python replay: same
    left-fold dot/norm accumulation order as the HOF aggregates, (score
    desc, id) tie-break, walk-the-sorted-list per-label cap, global top-k."""
    from tibame_project_spark.operators.similarity import diverse_topk

    items = [(10 + i, v, i % 3) for i, v in enumerate(item_vecs)]
    idf = spark_global.createDataFrame(
        items, "vec_id int, embedding array<double>, label int"
    )
    qdf = spark_global.createDataFrame(
        [(0, query_vec)], "query_id int, embedding array<double>"
    )
    got = sorted(
        (r.rank, r.vec_id, r.label)
        for r in diverse_topk(idf, qdf, k=4, per_label_cap=2).collect()
    )
    qn = _fold_norm(query_vec)
    scored = sorted(
        (-(_fold_dot(v, query_vec) / (_fold_norm(v) * qn)), vid, lab)
        for vid, v, lab in items
    )
    from collections import Counter

    capped, seen = [], Counter()
    for s, vid, lab in scored:
        if seen[lab] < 2:
            seen[lab] += 1
            capped.append((vid, lab))
    expected = sorted((i + 1, vid, lab) for i, (vid, lab) in enumerate(capped[:4]))
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(
    st.sets(st.integers(min_value=-(10**9), max_value=10**9), min_size=1, max_size=80),
    st.integers(min_value=1, max_value=6),
)
def test_global_sort_index_permutation_for_arbitrary_ids(
    spark_global, ids, bucket_bits
):
    """For arbitrary (possibly negative, gappy) unique ids and any bucket
    count, global_sort_index equals the naive single-window global order and
    is a contiguous 1..n permutation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from tibame_project_spark.operators.dedup import md5_base_hash
    from tibame_project_spark.partitioning import global_sort_index

    df = spark_global.createDataFrame([(i,) for i in sorted(ids)], "doc_id long")
    got = {
        r.doc_id: r.pos
        for r in global_sort_index(
            df, id_col="doc_id", base_hash=md5_base_hash, bucket_bits=bucket_bits
        ).collect()
    }
    naive = {
        r.doc_id: r.pos
        for r in df.withColumn(
            "pos",
            F.row_number().over(
                Window.orderBy(
                    md5_base_hash(F.col("doc_id").cast("string")), "doc_id"
                )
            ),
        ).collect()
    }
    assert got == naive
    assert sorted(got.values()) == list(range(1, len(ids) + 1))


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["apple", "banana", "cherry", "Date", "fig", "kiwi"]),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=12,
    ),
    st.lists(
        st.lists(
            st.sampled_from(["apple", "banana", "cherry", "Date", "fig"]),
            min_size=1,
            max_size=5,
        ),
        min_size=1,
        max_size=3,
    ),
    st.one_of(st.none(), st.floats(min_value=0.1, max_value=1.0)),
)
# the cases where the query norm could drift from the replay's:
# a query token absent from the corpus, without and with a cap
@example(docs=[["apple", "banana"], ["banana", "cherry"]], qs=[["apple", "fig", "fig"]], cap=None)
@example(docs=[["apple", "banana"], ["banana", "cherry"]], qs=[["apple", "fig", "fig"]], cap=1.0)
# empty docs count in |docs| but have no postings: apple (df 2) survives
# 0.5 · 4, not 0.5 · 2
@example(docs=[[], [], ["apple"], ["apple", "banana"]], qs=[["apple", "banana"]], cap=0.5)
@example(docs=[[], []], qs=[["apple"]], cap=0.5)
# the cap prunes every shared token of the first query, one of the second's
@example(
    docs=[["apple", "banana"], ["apple", "banana"], ["cherry"]],
    qs=[["apple", "banana"], ["banana", "cherry", "cherry"]],
    cap=0.5,
)
def test_sparse_cosine_topk_matches_python_replay(spark_global, docs, qs, cap):
    """For arbitrary small corpora (including empty docs and repeated
    tokens) and any df cap, the inverted-index plan equals a sequential
    Python bag-of-words cosine: same candidate set, same (score desc, id)
    ranking, same 4-decimal scores."""
    import math
    from collections import Counter

    from tibame_project_spark.operators.similarity import sparse_cosine_topk

    k = 4
    doc_rows = [(i + 100, " ".join(toks)) for i, toks in enumerate(docs)]
    q_rows = [(j + 1, " ".join(toks)) for j, toks in enumerate(qs)]
    ddf = spark_global.createDataFrame(doc_rows, "doc_id long, text string")
    qdf = spark_global.createDataFrame(q_rows, "query_id long, text string")
    got = [
        (r.query_id, r.doc_id, r.rank, r.score)
        for r in sparse_cosine_topk(ddf, qdf, k=k, df_frac_cap=cap).collect()
    ]

    # python replay: lowercase whitespace tf maps, df prune, cosine
    dtf = {i: Counter(t.lower() for t in toks) for (i, _), toks in zip(doc_rows, docs)}
    qtf = {j: Counter(t.lower() for t in toks) for (j, _), toks in zip(q_rows, qs)}
    if cap is not None:
        df_counts = Counter(tok for c in dtf.values() for tok in c)
        kept = {t for t, n in df_counts.items() if n <= cap * len(doc_rows)}
        dtf = {i: Counter({t: n for t, n in c.items() if t in kept}) for i, c in dtf.items()}
        qtf = {j: Counter({t: n for t, n in c.items() if t in kept}) for j, c in qtf.items()}
    want = []
    for j, qc in qtf.items():
        qn = math.sqrt(sum(v * v for v in qc.values()))
        scored = []
        for i, dc in dtf.items():
            dot = sum(dc[t] * qc[t] for t in dc.keys() & qc.keys())
            if dot == 0:
                continue
            dn = math.sqrt(sum(v * v for v in dc.values()))
            scored.append((i, dot / (dn * qn)))
        scored.sort(key=lambda p: (-p[1], p[0]))
        for rank, (i, s) in enumerate(scored[:k], 1):
            want.append((j, i, rank, round(s, 4)))
    assert sorted(got) == sorted(want)


@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=-(10**9), max_value=10**9),
        st.integers(min_value=-3, max_value=3),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_curriculum_index_equals_naive_order(spark_global, id_tiers, bucket_bits):
    """For arbitrary ids and arbitrary (possibly negative) integer tiers,
    curriculum_index equals the naive single-window (tier DESC, hash, id)
    order and is a contiguous 1..n permutation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from tibame_project_spark.operators.dedup import md5_base_hash
    from tibame_project_spark.partitioning import curriculum_index

    rows = sorted(id_tiers.items())
    df = spark_global.createDataFrame(rows, "doc_id long, tier long")
    got = {
        r.doc_id: r.pos
        for r in curriculum_index(
            df,
            tier_col="tier",
            id_col="doc_id",
            base_hash=md5_base_hash,
            bucket_bits=bucket_bits,
        ).collect()
    }
    naive = {
        r.doc_id: r.pos
        for r in df.withColumn(
            "pos",
            F.row_number().over(
                Window.orderBy(
                    F.col("tier").desc(),
                    md5_base_hash(F.col("doc_id").cast("string")),
                    "doc_id",
                )
            ),
        ).collect()
    }
    assert got == naive
    assert sorted(got.values()) == list(range(1, len(rows) + 1))


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(-2000, 2000), st.integers(-2000, 2000)),
        min_size=1,
        max_size=30,
    ),
    st.lists(
        st.tuples(st.integers(-2000, 2000), st.integers(-2000, 2000)),
        min_size=1,
        max_size=30,
    ),
    st.sampled_from([1, 7, 64, 500, 1500]),
)
def test_radius_join_grid_matches_model(spark_global, lpts, rpts, radius):
    """Grid blocking must equal the brute-force integer predicate for ANY
    point set (negative coordinates exercise floor-division cells) and any
    radius, including radii larger than the point spread (every pair) and
    radius 1 (almost no pair)."""
    from tibame_project_spark.operators.joins import radius_join_grid

    left = [(i, x, y) for i, (x, y) in enumerate(lpts)]
    right = [(100_000 + i, x, y) for i, (x, y) in enumerate(rpts)]
    ldf = spark_global.createDataFrame(left, "lid long, x long, y long")
    rdf = spark_global.createDataFrame(right, "rid long, x long, y long")
    got = {
        (r.lid, r.rid, r.dist2)
        for r in radius_join_grid(
            ldf, rdf, left_id="lid", right_id="rid", radius=radius
        ).collect()
    }
    want = {
        (l[0], r[0], (l[1] - r[1]) ** 2 + (l[2] - r[2]) ** 2)
        for l in left
        for r in right
        if (l[1] - r[1]) ** 2 + (l[2] - r[2]) ** 2 <= radius * radius
    }
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 100)),
        min_size=0,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 100), st.booleans()),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
)
def test_merge_upsert_matches_dict_model(spark_global, target_rows, source_rows):
    """merge_upsert against a plain dict replay of MERGE semantics, for
    arbitrary overlapping key sets and tombstone placements — including
    re-applying the same batch (fixpoint, the CDC idempotence claim)."""
    from tibame_project_spark.operators.corrections import merge_upsert

    target = spark_global.createDataFrame(
        target_rows or [(99999, 0)], "id long, v long"
    )
    if not target_rows:
        target = target.filter("id < 0")  # empty target with schema
    source = spark_global.createDataFrame(source_rows, "id long, v long, dead boolean")

    model = {k: v for k, v in (target_rows or [])}
    for k, v, dead in source_rows:
        if dead:
            model.pop(k, None)
        else:
            model[k] = v

    merged = merge_upsert(target, source, "id", delete_col="dead")
    got = {r.id: r.v for r in merged.collect()}
    assert got == model

    # fixpoint: applying the same batch to the merged state changes nothing
    again = merge_upsert(merged, source, "id", delete_col="dead")
    assert {r.id: r.v for r in again.collect()} == model


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 100)),
        min_size=0,
        max_size=10,
        unique_by=lambda t: t[0],
    ),
    st.lists(
        st.lists(
            st.tuples(st.integers(0, 20), st.integers(0, 100), st.booleans()),
            min_size=1,
            max_size=8,
            unique_by=lambda t: t[0],
        ),
        min_size=1,
        max_size=3,
    ),
)
@example(
    base_rows=[(i, i) for i in range(8)],
    batches=[[(2, 22, False), (9, 9, False)], [(0, 0, True), (9, 99, False)]],
)
def test_snapshot_changes_cdc_roundtrip_is_identity(
    spark_global, tmp_path_factory, base_rows, batches
):
    """derive→apply is the identity — the end-to-end contract tying the
    storage tier together: for ANY base table and upsert-batch sequence,
    the file-diff change feed manifest_changes derives between v0 and
    head, applied by the CDC sink stream_cdc_apply_manifest onto a COPY
    of v0, reproduces the head exactly (deletes included)."""
    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import (
        manifest_changes,
        merge_manifest_table,
        read_manifest_table,
        write_manifest_table,
    )
    from tibame_project_spark.streaming.incremental import stream_cdc_apply_manifest

    spark = spark_global
    tmp = tmp_path_factory.mktemp("cdcrt")
    src, dst = str(tmp / "src"), str(tmp / "dst")

    base_df = local_rows_df(spark, base_rows or [(999, 0)], "id long, v long")
    if not base_rows:
        base_df = base_df.where("id < 0")  # empty, schema kept
    write_manifest_table(
        spark, base_df, src, stats_cols=["id"], cluster_by="id", n_files=3, keep=10
    )
    for batch in batches:
        merge_manifest_table(
            spark,
            spark.createDataFrame(batch, "id long, v long, dead boolean"),
            src,
            "id",
            delete_col="dead",
            keep=10,
        )
    # copy of v0 becomes the subscriber's bootstrap state
    write_manifest_table(
        spark,
        read_manifest_table(spark, src, version=0),
        dst,
        stats_cols=["id"],
        keep=10,
    )
    feed = (
        manifest_changes(spark, src, "id", from_version=0)
        .filter(F.col("op") != "same")
        .select(
            "id",
            F.col("new_v").alias("v"),
            (F.col("op") == "delete").alias("dead"),
        )
    )
    feed_dir, ckpt = str(tmp / "feed"), str(tmp / "ckpt")
    feed.coalesce(1).write.mode("append").parquet(feed_dir)
    stream = spark.readStream.schema("id long, v long, dead boolean").parquet(
        feed_dir
    )
    stream_cdc_apply_manifest(
        stream, dst, "id", checkpoint=ckpt, delete_col="dead", keep=10
    )

    def content(base):
        return {(r.id, r.v) for r in read_manifest_table(spark, base).collect()}

    assert content(dst) == content(src)


# ---------------------------------------------------------------------------
# r14 footer-based commit stats: for ARBITRARY data (adversarial unicode
# incl. astral chars, NULL patterns, negative ints, boundary dates) the
# parquet-footer stats rows must be BIT-IDENTICAL to the distributed-scan
# rows, Bloom maps included — the prune layer's row-loss safety rides on
# this equivalence.


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
            st.one_of(
                st.none(),
                st.text(
                    alphabet=st.characters(
                        blacklist_categories=("Cs",),  # no lone surrogates
                        max_codepoint=0x10FFFF,
                    ),
                    max_size=40,
                ),
            ),
            st.one_of(
                st.none(),
                st.dates(dt.date(1, 1, 1), dt.date(9999, 12, 31)),
            ),
        ),
        min_size=1,
        max_size=30,
    ),
    n_files=st.integers(1, 3),
    bloom=st.sampled_from([None, {"cols": ["k", "s", "dt"], "m": 256, "k": 3}]),
)
@settings(max_examples=25, deadline=None)
def test_footer_stats_equal_scan_stats_for_arbitrary_data(
    spark_global, tmp_path_factory, rows, n_files, bloom
):
    from tibame_project_spark.sources import manifest as M

    spark = spark_global
    base = str(tmp_path_factory.mktemp("footer_prop"))
    df = spark.createDataFrame(rows, "k int, s string, dt date")
    M._write_data(df, base, "data/c=p", None, n_files)
    cols = ["k", "s", "dt"]
    foot = sorted(
        tuple(r)
        for r in spark.createDataFrame(M._file_stats(
            spark, base, "data/c=p", cols, df.schema, bloom, null_stats=True
        )).collect()
    )
    orig = M._footer_file_stats
    M._footer_file_stats = lambda *a, **kw: None
    try:
        scan = sorted(
            tuple(r)
            for r in spark.createDataFrame(M._file_stats(
                spark, base, "data/c=p", cols, df.schema, bloom,
                null_stats=True,
            )).collect()
        )
    finally:
        M._footer_file_stats = orig
    assert foot == scan
