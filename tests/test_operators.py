"""Per-operator unit tests against hand-computed frames (SURVEY.md §5's bar:
the reference ships zero tests; we test every operator family on tiny inline
data — dedup windows, corrections-DML, fuzzy join, fb dates, reshape,
sketching determinism, readers/writers, streaming hop, multimodal plumbing).
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from tibame_project_spark.functions.dates import is_fb_noise, normalize_fb_date
from tibame_project_spark.operators.corrections import (
    apply_deletes,
    apply_updates,
    insert_missing,
)
from tibame_project_spark.operators.dedup import (
    dedup_keep_first,
    dedup_keep_last,
    minhash_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_exact_pairs,
    shingles,
    simhash_dedup_pairs,
)
from tibame_project_spark.operators.joins import fuzzy_top1_join
from tibame_project_spark.operators.reshape import melt, pivot_day_hour
from tibame_project_spark.sources.multimodal import extract_features, sample_frames
from tibame_project_spark.sources import readers, writers


# ---------------------------------------------------------------------------
# dedup windows (D2/D3)
# ---------------------------------------------------------------------------

def _scrapes(spark):
    return spark.createDataFrame(
        [
            ("p1", "2024-01-01", "old"),
            ("p1", "2024-01-03", "new"),
            ("p2", "2024-01-02", "only"),
        ],
        ["post_link", "scraped_at", "content"],
    )


def test_keep_first_and_last(spark):
    df = _scrapes(spark)
    first = dedup_keep_first(df, ["post_link"], [F.col("scraped_at")])
    last = dedup_keep_last(df, ["post_link"], [F.col("scraped_at")])
    assert {(r.post_link, r.content) for r in first.collect()} == {
        ("p1", "old"),
        ("p2", "only"),
    }
    assert {(r.post_link, r.content) for r in last.collect()} == {
        ("p1", "new"),
        ("p2", "only"),
    }


# ---------------------------------------------------------------------------
# corrections-as-data (M1/M2/M3)
# ---------------------------------------------------------------------------

def test_corrections_dml(spark):
    dim = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "name"]
    )
    updated = apply_updates(
        dim, spark.createDataFrame([(2, "B!")], ["id", "name"]), "id"
    )
    assert dict((r.id, r.name) for r in updated.collect()) == {1: "a", 2: "B!", 3: "c"}

    deleted = apply_deletes(dim, spark.createDataFrame([(3,)], ["id"]), "id")
    assert {r.id for r in deleted.collect()} == {1, 2}

    upserted = insert_missing(
        dim, spark.createDataFrame([(2, "dup"), (9, "new")], ["id", "name"]), "id"
    )
    assert dict((r.id, r.name) for r in upserted.collect()) == {
        1: "a", 2: "b", 3: "c", 9: "new",
    }


def test_apply_updates_null_value_keeps_original(spark):
    dim = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], ["id", "name", "v"])
    # correction row sets name but leaves v NULL -> v untouched (coalesce)
    upd = spark.createDataFrame([(1, "A!", None)], "id long, name string, v long")
    out = apply_updates(dim, upd, "id")
    assert {(r.id, r.name, r.v) for r in out.collect()} == {(1, "A!", 10), (2, "b", 20)}


# ---------------------------------------------------------------------------
# fuzzy top-1 join (J9)
# ---------------------------------------------------------------------------

def test_fuzzy_top1_deterministic_tiebreak(spark):
    left = spark.createDataFrame([("kitten",)], ["query"])
    # two dim rows at equal distance 1: ties break on match string
    dim = spark.createDataFrame(
        [("bitten", 1), ("mitten", 2)], ["name", "dim_id"]
    )
    out = fuzzy_top1_join(left, dim, "query", "name").collect()
    assert len(out) == 1
    assert out[0].name == "bitten" and out[0].distance == 1


def test_fuzzy_top1_max_distance_band_prune_equivalent(spark):
    """The length-band prune under max_distance must not change results:
    |len(l)-len(r)| lower-bounds edit distance, so banding only removes
    pairs the distance filter would drop anyway."""
    left = spark.createDataFrame([("kitten",), ("a",), ("abcdefghij",)], ["query"])
    dim = spark.createDataFrame(
        [("bitten", 1), ("ab", 2), ("abcdefgh", 3), ("zzzzzzzzzzzzzzz", 4)],
        ["name", "dim_id"],
    )
    pruned = {
        (r.query, r.dim_id, r.distance)
        for r in fuzzy_top1_join(left, dim, "query", "name", max_distance=2).collect()
    }
    # reference: unbounded top-1 filtered post-hoc to distance <= 2
    ref = {
        (r.query, r.dim_id, r.distance)
        for r in fuzzy_top1_join(left, dim, "query", "name").collect()
        if r.distance <= 2
    }
    assert pruned == ref
    # the length-band predicate sits below the levenshtein in the plan
    plan = fuzzy_top1_join(
        left, dim, "query", "name", max_distance=2
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "length" in plan and "levenshtein" in plan


def test_fuzzy_top1_prune_threshold_exact(spark):
    """prune_threshold must be invisible in the result: rows whose best
    match is within the threshold come from the banded phase; rows whose
    best is farther (here 'zzzzzzzz', best distance 8 > t=2) go through the
    unbounded fallback and still get their exact global top-1."""
    left = spark.createDataFrame(
        [("kitten",), ("abcdefgh",), ("zzzzzzzz",)], ["query"]
    )
    dim = spark.createDataFrame(
        [("bitten", 1), ("abcdefgx", 2), ("abcdefg", 3)], ["name", "dim_id"]
    )
    ref = {
        (r.query, r.dim_id, r.distance)
        for r in fuzzy_top1_join(left, dim, "query", "name").collect()
    }
    pruned = {
        (r.query, r.dim_id, r.distance)
        for r in fuzzy_top1_join(
            left, dim, "query", "name", prune_threshold=2
        ).collect()
    }
    assert pruned == ref
    # all-hit case takes the single-phase exit (no fallback union)
    hit_only = {
        (r.query, r.dim_id, r.distance)
        for r in fuzzy_top1_join(
            left.filter("query <> 'zzzzzzzz'"), dim, "query", "name",
            prune_threshold=2,
        ).collect()
    }
    assert hit_only == {t for t in ref if t[0] != "zzzzzzzz"}


def test_fuzzy_top1_cartesian_guard_fires(spark):
    """The max_pairs guard must reject an over-budget cross product with a
    message pointing at the blocked tier, and max_pairs=None must skip it."""
    import pytest

    left = spark.createDataFrame([("kitten",), ("sitting",)], ["query"])
    dim = spark.createDataFrame([("bitten", 1), ("mitten", 2)], ["name", "dim_id"])
    with pytest.raises(ValueError, match="fuzzy_top1_join_blocked"):
        fuzzy_top1_join(left, dim, "query", "name", max_pairs=3)
    # at exactly the bound (4 pairs) the guard does not fire
    assert len(fuzzy_top1_join(left, dim, "query", "name", max_pairs=4).collect()) == 2
    assert len(fuzzy_top1_join(left, dim, "query", "name", max_pairs=None).collect()) == 2


def test_fuzzy_blocked_finds_exact_and_near_matches(spark):
    """LSH-blocked tier: identical and near-identical strings share n-gram
    minhash bands with certainty/high probability, so the blocked top-1
    agrees with the exact top-1 for them."""
    from tibame_project_spark.operators.joins import fuzzy_top1_join_blocked

    left = spark.createDataFrame(
        [("grand hotel taipei",), ("night market shilin",)], ["query"]
    )
    dim = spark.createDataFrame(
        [("grand hotel taipei", 1), ("night market shilin!", 2), ("xyzzy", 3)],
        ["name", "dim_id"],
    )
    out = {
        (r.query, r.dim_id, r.distance)
        for r in fuzzy_top1_join_blocked(left, dim, "query", "name").collect()
    }
    assert ("grand hotel taipei", 1, 0) in out
    assert ("night market shilin", 2, 1) in out
    # plan shape: candidates come from an equi-join, not a cross product
    plan = fuzzy_top1_join_blocked(
        left, dim, "query", "name"
    )._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_fuzzy_blocked_prebuilt_sketch_matches_inline(spark):
    """A dimension sketch built once by fuzzy_band_sketch, as built or
    after localCheckpoint, gives the rows of the inline sketch; a sketch
    built with other parameters, or with none recorded, is refused."""
    import pytest

    from tibame_project_spark.operators.dedup import md5_base_hash
    from tibame_project_spark.operators.joins import (
        fuzzy_band_sketch,
        fuzzy_top1_join_blocked,
    )

    left = spark.createDataFrame(
        [("grand hotel taipei",), ("night market shilin",), ("taipei zoo",)],
        ["query"],
    )
    dim = spark.createDataFrame(
        [("grand hotel taipei", 1), ("grand hotel taipel", 4),
         ("night market shilin!", 2), ("taipei city zoo", 5), ("xyzzy", 3)],
        ["name", "dim_id"],
    )

    def rows(**kw):
        return sorted(
            tuple(r)
            for r in fuzzy_top1_join_blocked(
                left, dim, "query", "name", tie_break=["dim_id"], **kw
            ).collect()
        )

    inline = rows()
    assert ("grand hotel taipei", 0, "grand hotel taipei", 1) in inline
    sketch = fuzzy_band_sketch(dim, "name")
    assert rows(dim_sketch=sketch) == inline
    kept = sketch.localCheckpoint()
    assert kept.schema["bh"].metadata == sketch.schema["bh"].metadata != {}
    assert rows(dim_sketch=kept) == inline
    md5 = fuzzy_band_sketch(dim, "name", base_hash=md5_base_hash)
    assert rows(dim_sketch=md5, base_hash=md5_base_hash) == rows(
        base_hash=md5_base_hash
    )
    for bad in (
        fuzzy_band_sketch(dim, "name", num_perm=32),
        md5,
        sketch.withColumn("bh", F.col("bh").alias("bh", metadata={})),
    ):
        with pytest.raises(ValueError, match="dim_sketch"):
            rows(dim_sketch=bad)


# ---------------------------------------------------------------------------
# fb date normalization (F2) — including the reference's failure modes
# ---------------------------------------------------------------------------

def test_fb_dates_reference_semantics(spark):
    ref = F.to_date(F.lit("2024-06-15"))
    rows = spark.createDataFrame(
        [
            ("3天",),
            ("5小時",),
            ("2023年1月7日",),
            ("7月25日上午10:00",),
            ("7月25日 上午10:00",),  # spaced: strict parse fails -> NULL
            ("7月",),                 # no 日: fails -> NULL
            ("just now",),            # fallthrough -> ref date
        ],
        ["t"],
    )
    got = [
        r.d
        for r in rows.select(normalize_fb_date(F.col("t"), ref).alias("d")).collect()
    ]
    assert got == [
        dt.date(2024, 6, 12),
        dt.date(2024, 6, 15),
        dt.date(2023, 1, 7),
        dt.date(2024, 7, 25),
        None,
        None,
        dt.date(2024, 6, 15),
    ]


def test_fb_noise_filter(spark):
    rows = spark.createDataFrame([("在線上",), ("+3",), ("3天",)], ["t"])
    kept = rows.filter(~is_fb_noise(F.col("t"))).collect()
    assert [r.t for r in kept] == ["3天"]


# ---------------------------------------------------------------------------
# reshape (F13/F19)
# ---------------------------------------------------------------------------

def test_melt_roundtrip(spark):
    wide = spark.createDataFrame([(2015, 10, 20)], ["year", "zoo", "museum"])
    long = melt(wide, ["year"], ["zoo", "museum"], "name", "number_people")
    assert {(r.year, r.name, r.number_people) for r in long.collect()} == {
        (2015, "zoo", 10),
        (2015, "museum", 20),
    }


def test_pivot_day_hour(spark):
    df = spark.createDataFrame(
        [("Mon", 9, 4.0), ("Mon", 9, 6.0), ("Tue", 10, 3.0)],
        ["day", "hour", "pop"],
    )
    out = pivot_day_hour(df, "day", "hour", "pop")
    rows = {r["day"]: r for r in out.collect()}
    assert rows["Mon"]["9"] == 5.0 and rows["Tue"]["10"] == 3.0


# ---------------------------------------------------------------------------
# sketching: determinism + exactness guarantees
# ---------------------------------------------------------------------------

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "the quick brown fox jumps over the lazy dog today"),   # exact dup
    (3, "the quick brown fox jumps over the lazy cat today"),   # near dup
    (4, "completely unrelated text about apache spark engines"),
]


def test_minhash_pairs_deterministic_and_sane(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pairs1 = {
        (r.id_a, r.id_b) for r in minhash_dedup_pairs(df, "text", "doc_id").collect()
    }
    pairs2 = {
        (r.id_a, r.id_b) for r in minhash_dedup_pairs(df, "text", "doc_id").collect()
    }
    assert pairs1 == pairs2                 # deterministic across runs
    assert (1, 2) in pairs1                 # exact dup always collides
    assert not any(4 in p for p in pairs1)  # unrelated never pairs


def test_minhash_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    kept = {r.doc_id for r in minhash_dedup(df, "text", "doc_id").collect()}
    assert 1 in kept and 2 not in kept and 4 in kept


def test_ngram_exact_matches_bruteforce(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_exact_pairs(df, "text", "doc_id", threshold=0.3).collect()
    }
    # brute force in python
    sh = {
        r.doc_id: frozenset(r.sh)
        for r in df.select("doc_id", shingles(F.col("text"), 3).alias("sh")).collect()
    }
    want = set()
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
            if j >= 0.3:
                want.add((a, b, round(j, 4)))
    assert got == want


def test_simhash_blocks_exact_dups(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pairs = {
        (r.id_a, r.id_b, r.distance)
        for r in simhash_dedup_pairs(df, "text", "doc_id", max_distance=10).collect()
    }
    assert (1, 2, 0) in pairs
    assert not any(4 in (a, b) for a, b, _ in pairs)


# ---------------------------------------------------------------------------
# readers / writers round-trips (S1-S8, S10)
# ---------------------------------------------------------------------------

def test_parquet_roundtrip_partitioned(spark, tmp_path):
    # non-date-like partition values: partition-column type inference would
    # otherwise read "2024-01-01" back as DateType
    df = spark.createDataFrame([(1, "d1"), (2, "d2")], ["id", "day"])
    path = str(tmp_path / "t")
    writers.write_parquet(df, path, partition_by="day")
    assert sorted(p for p in os.listdir(path) if p.startswith("day=")) == [
        "day=d1",
        "day=d2",
    ]
    back = readers.read_parquet(spark, path)
    assert {(r.id, r.day) for r in back.collect()} == {(1, "d1"), (2, "d2")}


def test_csv_jsonl_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "s"])
    cpath, jpath = str(tmp_path / "c"), str(tmp_path / "j")
    writers.write_csv(df, cpath)
    writers.write_jsonl(df, jpath)
    cback = readers.read_csv(spark, cpath, schema="id long, s string")
    jback = readers.read_jsonl(spark, jpath, schema="id long, s string")
    want = {(1, "a"), (2, "b")}
    assert {(r.id, r.s) for r in cback.collect()} == want
    assert {(r.id, r.s) for r in jback.collect()} == want


def test_write_mode_ignore_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    writers.write_parquet(spark.createDataFrame([(1,)], ["id"]), path)
    # second write with mode=ignore must be a no-op, not an error (S10)
    writers.write_parquet(spark.createDataFrame([(2,)], ["id"]), path, mode="ignore")
    assert [r.id for r in readers.read_parquet(spark, path).collect()] == [1]


def test_filename_column(spark, tmp_path):
    p = str(tmp_path / "files")
    spark.createDataFrame([(1,)], ["id"]).write.parquet(p + "/place=abc123.parquet")
    df = spark.read.parquet(p + "/*")
    out = readers.with_filename_column(df, "place_id", r"place=([^./]+)")
    assert out.collect()[0].place_id == "abc123"


# ---------------------------------------------------------------------------
# streaming hop (M4): availableNow file source -> partitioned ods
# ---------------------------------------------------------------------------

def test_stream_src_to_ods_incremental(spark, tmp_path):
    from tibame_project_spark.streaming.incremental import stream_src_to_ods

    src = tmp_path / "src"
    ods, ckpt = str(tmp_path / "ods"), str(tmp_path / "ckpt")
    schema = "id long, published_at string"

    def write_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )

    write_batch([(1, "2024-01-01"), (2, "2024-01-02")], "b1")
    stream_src_to_ods(
        spark, str(src), spark.createDataFrame([], schema).schema,
        lambda df: df, ods, ckpt,
    )
    assert spark.read.parquet(ods).count() == 2

    # second hop only processes the NEW file (checkpointed progress)
    write_batch([(3, "2024-01-02")], "b2")
    stream_src_to_ods(
        spark, str(src), spark.createDataFrame([], schema).schema,
        lambda df: df, ods, ckpt,
    )
    back = spark.read.parquet(ods)
    assert {r.id for r in back.collect()} == {1, 2, 3}
    # day-partitioned layout on disk
    assert any(p.startswith("published_at=") for p in os.listdir(ods))


# ---------------------------------------------------------------------------
# multimodal plumbing (binary + mapInPandas)
# ---------------------------------------------------------------------------

def _media(spark):
    return spark.createDataFrame(
        [
            ("m1", "image", bytearray(b"\x00\x10\x20\x30\x40\x50\x60\x70" * 4)),
            ("m2", "image", bytearray(b"")),
        ],
        "media_id string, kind string, content binary",
    )


def test_extract_features_shape_and_determinism(spark):
    out1 = extract_features(_media(spark)).orderBy("media_id").collect()
    out2 = extract_features(_media(spark)).orderBy("media_id").collect()
    assert [r.media_id for r in out1] == ["m1", "m2"]
    assert out1[0].n_bytes == 32 and out1[1].n_bytes == 0
    assert len(out1[0].feature) == 8
    assert all(0.0 <= x <= 1.0 for x in out1[0].feature)
    assert out1[0].feature == out2[0].feature  # deterministic fake decode


def test_sample_frames_from_metadata(spark):
    media = spark.createDataFrame(
        [("v1", "video", Row(duration_ms=3500)), ("a1", "audio", Row(duration_ms=9000))],
        "media_id string, kind string, meta struct<duration_ms: long>",
    )
    out = sample_frames(media, every_ms=1000).collect()
    assert {r.media_id for r in out} == {"v1"}
    assert [(r.frame_idx, r.frame_ts_ms) for r in out] == [(0, 0), (1, 1000), (2, 2000)]


# ---------------------------------------------------------------------------
# as-of join (point-in-time lookup)
# ---------------------------------------------------------------------------

def test_asof_join_semantics(spark):
    from tibame_project_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "e1", "2024-01-10 12:00:00"),
         (1, "e2", "2024-01-05 00:00:00"),   # same instant as an order
         (2, "e3", "2024-01-01 00:00:00")],  # before any order -> NULL
        ["uid", "eid", "ts"],
    )
    right = spark.createDataFrame(
        [(1, 100, "2024-01-01"), (1, 101, "2024-01-05"), (1, 99, "2024-01-05"),
         (2, 200, "2024-06-01")],
        ["k", "okey", "odate"],
    )
    out = {
        r.eid: r.okey
        for r in asof_join(
            left, right, on=("uid", "k"), left_ts="ts", right_ts="odate",
            value_cols=["okey"], tie_break="okey",
        ).collect()
    }
    assert out == {
        "e1": 101,   # latest order at-or-before, tie at 01-05 -> max okey
        "e2": 101,   # same-instant order counts
        "e3": None,  # nothing before -> LEFT semantics
    }


def test_range_join_buckets(spark):
    from tibame_project_spark.operators.joins import range_join

    orders = spark.createDataFrame(
        [(1, "o1", "2024-01-01 00:00:00"), (1, "o2", "2024-01-10 00:00:00")],
        ["uid", "okey", "ots"],
    )
    events = spark.createDataFrame(
        [(1, "e1", "2024-01-01 00:00:00"),   # at order instant -> in window
         (1, "e2", "2024-01-07 23:59:59"),   # just inside 7 days
         (1, "e3", "2024-01-08 00:00:00"),   # exactly 7 days -> out
         (2, "e4", "2024-01-02 00:00:00")],  # other key
        ["uid2", "ekey", "ets"],
    )
    out = range_join(
        orders, events, on=("uid", "uid2"), left_ts="ots", right_ts="ets",
        window_seconds=7 * 86400,
    )
    got = {(r.okey, r.ekey) for r in out.collect()}
    assert got == {("o1", "e1"), ("o1", "e2")}


def test_connected_components_chain_and_clusters(spark):
    from tibame_project_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (transitive), pair 10-11, isolated-by-edge 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], ["id_a", "id_b"]
    )
    out = {r.node: r.component for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_long_path_pointer_jump(spark):
    """Large-diameter safeguard (VERDICT r03 stretch 7): a 120-node path
    graph has diameter 119 — plain min-label needs ~119 rounds, pointer
    jumping O(log d) ≈ 7. Must converge inside the default 20-round budget
    with no RuntimeWarning."""
    import warnings

    from tibame_project_spark.operators.dedup import connected_components

    n = 120
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = {r.node: r.component for r in connected_components(pairs).collect()}
    assert out == {i: 0 for i in range(n)}


def test_connected_components_budget_warning(spark):
    """Exhausting max_iter must WARN, never silently under-merge."""
    import pytest as _pytest

    from tibame_project_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"]
    )
    with _pytest.warns(RuntimeWarning, match="not converged"):
        connected_components(pairs, max_iter=1)


def test_select_positional(spark):
    from tibame_project_spark.operators.reshape import select_positional

    df = spark.createDataFrame([(1, "a", 2.0)], ["x", "y", "z"])
    assert select_positional(df, [1, 0]).columns == ["y", "x"]
    assert select_positional(df, [2]).collect()[0][0] == 2.0


# ---------------------------------------------------------------------------
# Gopher quality rules + benchmark decontamination (training-data tier)
# ---------------------------------------------------------------------------

def test_gopher_rules_golden(spark):
    from tibame_project_spark.functions.textstats import (
        alpha_word_ratio,
        dup_line_fraction,
        dup_ngram_fraction,
        mean_word_length,
        symbol_word_ratio,
    )

    rows = spark.createDataFrame(
        [
            ("clean", "the quick brown fox jumps over the lazy dog"),
            ("reps", "spam spam spam spam"),
            ("symbols", "### wow ### such ### tags ..."),
            ("lines", "a\nb\na\n"),
            ("empty", "   "),
        ],
        ["k", "text"],
    )
    t = F.col("text")
    got = {
        r.k: r
        for r in rows.select(
            "k",
            mean_word_length(t).alias("mwl"),
            alpha_word_ratio(t).alias("alpha"),
            symbol_word_ratio(t).alias("sym"),
            dup_ngram_fraction(t, 2).alias("dup2"),
            dup_line_fraction(t).alias("dupl"),
        ).collect()
    }
    assert got["clean"].mwl == pytest.approx(35 / 9)
    assert got["clean"].alpha == 1.0 and got["clean"].dup2 == 0.0
    # "spam spam" 2-grams: 3 total, 1 distinct
    assert got["reps"].dup2 == pytest.approx(1 - 1 / 3)
    # 9 '#' + 1 '...' over 7 tokens
    assert got["symbols"].sym == pytest.approx(10 / 7)
    assert got["lines"].dupl == pytest.approx(1 - 2 / 3)
    assert got["empty"].mwl == 0.0 and got["empty"].alpha == 0.0


def test_gopher_metrics_matches_scalar_rules(spark):
    """The staged DataFrame form must agree with the scalar spelling on
    every column (they share thresholds)."""
    from tibame_project_spark.functions.textstats import (
        gopher_metrics,
        gopher_pass,
    )

    rows = spark.createDataFrame(
        [("a", "the quick brown fox jumps over the lazy dog again"),
         ("b", "x x x x x x"),
         ("c", "### ### ###"),
         ("d", "")],
        ["k", "text"],
    )
    staged = {r.k: r.passes for r in gopher_metrics(rows, "text", ["k"]).collect()}
    scalar = {
        r.k: r.p
        for r in rows.select("k", gopher_pass(F.col("text")).alias("p")).collect()
    }
    assert staged == scalar
    assert staged["a"] is True and staged["b"] is False and staged["d"] is False


def test_top_ngram_stats_golden(spark):
    """Hand-checked top-2-gram stats: dominance, tie-breaks, short docs."""
    from tibame_project_spark.functions.textstats import top_ngram_stats

    rows = spark.createDataFrame(
        [
            # "a b" x3 (overlapping list: a b, b a, a b, b a, a b, b c)
            ("rep", "a b a b a b c"),
            # every gram unique -> tie on count=1, lexicographic min wins
            ("tie", "z y x w"),
            ("one", "solo"),   # < 2 tokens: NULL gram, 0.0 frac
            ("empty", ""),
        ],
        ["k", "text"],
    )
    got = {r.k: r for r in top_ngram_stats(rows, "text", ["k"]).collect()}
    assert got["rep"].top_gram == "a b" and got["rep"].top_gram_n == 3
    # covered = 3 occurrences x 2 token chars; total token chars = 7
    assert got["rep"].top_gram_char_frac == pytest.approx(6 / 7)
    assert got["tie"].top_gram == "x w" and got["tie"].top_gram_n == 1
    assert got["one"].top_gram is None and got["one"].top_gram_n == 0
    assert got["one"].top_gram_char_frac == 0.0
    assert got["empty"].top_gram is None and got["empty"].top_gram_char_frac == 0.0


def test_quantize_dequantize_error_bounds(spark):
    """Int8 round-trip invariants: per-element error < vmax/127 (floor
    quantization), magnitudes never exceed vmax, zero vectors pass through,
    and non-vector columns survive untouched."""
    from tibame_project_spark.operators.similarity import quantize_dequantize

    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [100.0, -0.001, 3.14159, -99.9]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {r.vec_id: r.embedding for r in quantize_dequantize(df, "embedding").collect()}
    for vid, vec in rows:
        vmax = max(abs(x) for x in vec)
        for orig, dq in zip(vec, got[vid]):
            if vmax == 0:
                assert dq == 0.0
            else:
                assert abs(dq) <= vmax + 1e-12
                assert abs(orig - dq) < vmax / 127 + 1e-12
    assert set(got) == {1, 2, 3}


def test_decontaminate_overlap_semantics(spark):
    from tibame_project_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "completely unrelated text with other words"),
            (3, "prefix alpha beta gamma suffix tokens here"),  # shares the 3-gram
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [("alpha beta gamma",)], ["bench_text"]
    )
    out = decontaminate(docs, bench, "text", "doc_id", "bench_text", n=3)
    assert {r.doc_id for r in out.collect()} == {2}
    # and the overlap join must broadcast the benchmark side
    plan = decontaminate(
        docs, bench, "text", "doc_id", "bench_text", n=3
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# streaming dedup, stratified sampling, tf-idf top terms
# ---------------------------------------------------------------------------

def test_streaming_dedup_within_watermark(spark, tmp_path):
    from tibame_project_spark.streaming.incremental import streaming_dedup

    src = tmp_path / "dup_src"
    out, ckpt = str(tmp_path / "dup_out"), str(tmp_path / "dup_ckpt")
    schema = "k string, ts timestamp"
    rows = [
        ("a", dt.datetime(2024, 1, 1, 10, 0)),
        ("a", dt.datetime(2024, 1, 1, 10, 5)),  # dup within watermark
        ("b", dt.datetime(2024, 1, 1, 10, 1)),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    (
        streaming_dedup(stream, ["k"], ts_col="ts", watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    back = spark.read.parquet(out)
    assert sorted(r.k for r in back.collect()) == ["a", "b"]


def test_stratified_hash_sample_exact_k_deterministic(spark):
    from tibame_project_spark.partitioning import stratified_hash_sample

    df = spark.createDataFrame(
        [(i, "x" if i % 2 else "y") for i in range(100)], ["id", "grp"]
    )
    s1 = stratified_hash_sample(df, ["grp"], 5, hash_col="id")
    s2 = stratified_hash_sample(df, ["grp"], 5, hash_col="id")
    r1 = {(r.grp, r.id, r.rank) for r in s1.collect()}
    assert r1 == {(r.grp, r.id, r.rank) for r in s2.collect()}  # deterministic
    per = {}
    for g, _, _ in r1:
        per[g] = per.get(g, 0) + 1
    assert per == {"x": 5, "y": 5}  # exactly k per stratum


def test_top_terms_ranking(spark):
    from tibame_project_spark.functions.textstats import top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana shared"),
            (2, "banana cherry shared"),
            (3, "shared shared shared"),
        ],
        ["doc_id", "text"],
    )
    out = {(r.doc_id, r.rank): (r.token, r.tf, r.df) for r in
           top_terms(docs, "text", "doc_id", k=2).collect()}
    # doc 1: apple tf=2 df=1 (score 2.0) beats banana tf=1 df=2 (0.5)
    assert out[(1, 1)] == ("apple", 2, 1)
    assert out[(1, 2)] == ("banana", 1, 2)
    # doc 2: cherry (1/1) beats banana (1/2); 'shared' (df=3) last
    assert out[(2, 1)] == ("cherry", 1, 1)


def test_kmeans_centroids_recovers_separated_clusters(spark):
    from tibame_project_spark.operators.similarity import kmeans_centroids

    import random
    rnd = random.Random(7)
    rows = []
    for c, center in enumerate([[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]]):
        for i in range(30):
            rows.append((c * 100 + i, [v + rnd.uniform(-0.5, 0.5) for v in center]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = kmeans_centroids(df, 3, iters=4).collect()
    assert sorted(r.size for r in cent) == [30, 30, 30]
    # each trained centroid sits on one true center (one dominant axis ~10)
    axes = sorted(max(range(4), key=lambda i: r.centroid[i]) for r in cent)
    assert axes == [0, 1, 2]
    for r in cent:
        assert max(r.centroid) == pytest.approx(10.0, abs=0.2)
    # deterministic: re-training yields identical centroids
    again = kmeans_centroids(df, 3, iters=4).collect()
    assert {(r.cell_id, tuple(r.centroid)) for r in cent} == {
        (r.cell_id, tuple(r.centroid)) for r in again
    }


def test_exact_substring_dedup_semantics(spark):
    """ExactSubstr rules: the first occurrence of a repeated k-window keeps
    its tokens, later occurrences lose exactly the covered span, short docs
    pass untouched, and a doc that is entirely a repeat empties out."""
    from tibame_project_spark.operators.dedup import exact_substring_dedup

    boiler = "a b c d"  # the repeated 4-token window
    docs = [
        (1, f"{boiler} x y"),        # canonical occurrence (smallest doc id)
        (2, f"p q {boiler} r"),      # later: loses the 4 covered tokens
        (3, boiler),                 # later, nothing else: empties out
        (4, "a b c"),                # shorter than k: no windows, unchanged
        (5, "u v w x y z"),          # no repeats: unchanged
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r.doc_id: (r.text, r.n_tokens_kept, r.n_tokens_removed)
        for r in exact_substring_dedup(df, "text", "doc_id", k=4).collect()
    }
    assert out[1] == (f"{boiler} x y", 6, 0)
    assert out[2] == ("p q r", 3, 4)
    assert out[3] == ("", 0, 4)
    assert out[4] == ("a b c", 3, 0)
    assert out[5] == ("u v w x y z", 6, 0)


def test_exact_substring_dedup_overlapping_windows(spark):
    """Overlapping duplicate windows cover the UNION of their spans; tokens
    inside the canonical doc are never removed even when the doc repeats
    its own window later (later position in the same doc = duplicate)."""
    from tibame_project_spark.operators.dedup import exact_substring_dedup

    # "a b a b a b": windows (k=2) = ab,ba,ab,ba,ab — first "a b" (pos 1)
    # and first "b a" (pos 2) are canonical, every later window duplicates,
    # covering positions 3..6 → only the first two tokens survive.
    df = spark.createDataFrame([(1, "a b a b a b")], ["doc_id", "text"])
    out = exact_substring_dedup(df, "text", "doc_id", k=2).collect()[0]
    assert (out.text, out.n_tokens_kept, out.n_tokens_removed) == ("a b", 2, 4)


def test_semantic_dedup_cell_bounded_survivors(spark):
    """SemDeDup semantics: duplicates only count within a cell, survivor is
    the smallest id, near-orthogonal items survive."""
    from tibame_project_spark.operators.similarity import semantic_dedup

    # Two anchor directions (cells); anchors are themselves items, so every
    # non-anchor is kept ≥5% off its anchor's direction (cosine < 0.95 vs
    # the anchor) except the deliberate near-dup pair 10/11.
    rows = [
        (0, [1.0, 0.0, 0.0]),            # anchor / cell 0
        (1, [0.0, 1.0, 0.0]),            # anchor / cell 1
        (10, [0.8, 0.6, 0.0]),           # cell 0; cosine 0.80 vs anchor
        (11, [0.8, 0.6, 0.001]),         # ~1.0 cosine with 10 → dropped
        (12, [0.6, 0.45, 0.66]),         # cell 0; <0.95 vs everything
        (13, [0.5, 0.86, 0.0]),          # cell 1; cosine 0.86 vs anchor
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    anchors = df.filter(F.col("vec_id") < 2)
    out = {r.vec_id: r.cell for r in semantic_dedup(df, anchors, threshold=0.95).collect()}
    assert 11 not in out                      # lost to smaller-id near-dup 10
    assert 10 in out and 12 in out and 13 in out
    assert out[10] == 0 and out[12] == 0 and out[13] == 1
    # anchors survive, each in its own cell
    assert out[0] == 0 and out[1] == 1


def test_chunk_text_boundaries_and_empty(spark):
    from tibame_project_spark.functions.textstats import chunk_text

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x"), (3, "   ")], ["doc_id", "text"]
    )
    out = {(r.doc_id, r.chunk_idx): (r.chunk, r.n_tokens) for r in
           chunk_text(docs, "text", "doc_id", max_tokens=2).collect()}
    assert out == {
        (1, 0): ("a b", 2), (1, 1): ("c d", 2), (1, 2): ("e", 1),
        (2, 0): ("x", 1),
    }  # doc 3 (whitespace only) yields no chunks


def test_pii_scrub_and_counts_agree(spark):
    from tibame_project_spark.functions.pii import pii_counts, scrub_pii

    rows = spark.createDataFrame(
        [("a@b.com and c.d@e.org, host 10.0.0.1, tel +886 912 345 678",),
         ("no pii here",)],
        ["t"],
    )
    ne, ni, np_ = pii_counts(F.col("t"))
    got = rows.select(
        ne.alias("e"), ni.alias("i"), np_.alias("p"), scrub_pii(F.col("t")).alias("s")
    ).collect()
    assert (got[0].e, got[0].i, got[0].p) == (2, 1, 1)
    s = got[0].s
    assert "<EMAIL>" in s and "<IP>" in s and "<PHONE>" in s
    assert "a@b.com" not in s and "10.0.0.1" not in s
    assert (got[1].e, got[1].i, got[1].p) == (0, 0, 0)
    assert got[1].s == "no pii here"


def test_line_dedup_corpus_keep_first_occurrence(spark):
    from tibame_project_spark.operators.dedup import line_dedup_corpus

    docs = spark.createDataFrame(
        [
            (1, "unique one\nshared line\nunique two"),
            (2, "shared line\nonly in two"),   # 'shared line' seen in doc 1
            (3, "shared line"),                # fully duplicated -> empty
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in line_dedup_corpus(docs, "text", "doc_id").collect()}
    assert out[1].text == "unique one\nshared line\nunique two"
    assert (out[1].n_lines_kept, out[1].n_lines_dropped) == (3, 0)
    assert out[2].text == "only in two"
    assert (out[2].n_lines_kept, out[2].n_lines_dropped) == (1, 1)
    assert out[3].text == "" and out[3].n_lines_kept == 0


def test_stream_interval_join_attribution(spark, tmp_path):
    from tibame_project_spark.streaming.incremental import stream_interval_join

    schema = "k long, ts timestamp"
    lsrc, rsrc = tmp_path / "sj_l", tmp_path / "sj_r"
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    spark.createDataFrame(
        [(1, t0), (2, t0)], schema
    ).coalesce(1).write.parquet(str(lsrc))
    spark.createDataFrame(
        [
            (1, t0 + dt.timedelta(seconds=30)),   # in window
            (1, t0 + dt.timedelta(seconds=90)),   # out (window 60s)
            (2, t0 - dt.timedelta(seconds=5)),    # before left -> out
        ],
        schema,
    ).coalesce(1).write.parquet(str(rsrc))

    l = spark.readStream.schema(schema).parquet(str(lsrc)).withColumnsRenamed({"ts": "lts"})
    r = spark.readStream.schema(schema).parquet(str(rsrc)).withColumnsRenamed({"k": "rk", "ts": "rts"})
    joined = stream_interval_join(
        l, r, on=("k", "rk"), left_ts="lts", right_ts="rts",
        window_seconds=60, watermark="10 minutes",
    )
    out, ckpt = str(tmp_path / "sj_out"), str(tmp_path / "sj_ckpt")
    (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    back = spark.read.parquet(out).collect()
    assert len(back) == 1 and back[0].k == 1


def test_pack_chunks_layout_and_overflow(spark):
    from tibame_project_spark.functions.textstats import pack_chunks

    chunks = spark.createDataFrame(
        [
            # one bucket (n_buckets=1): lay chunks end-to-end, capacity 10
            (1, 0, 4), (1, 1, 4),        # cum 0, 4
            (2, 0, 4),                   # cum 8 -> starts in seq 0 (overflow)
            (3, 0, 4), (3, 1, 9),        # cum 12 -> seq 1; cum 16 -> seq 1
            (4, 0, 1),                   # cum 25 -> seq 2
        ],
        ["doc_id", "chunk_idx", "n_tokens"],
    )
    out = {
        (r.doc_id, r.chunk_idx): (r.seq_id, r.seq_offset)
        for r in pack_chunks(chunks, seq_tokens=10, n_buckets=1).collect()
    }
    assert out == {
        (1, 0): (0, 0), (1, 1): (0, 4),
        (2, 0): (0, 8),          # straddles the boundary, stays in seq 0
        (3, 0): (1, 2), (3, 1): (1, 6),
        (4, 0): (2, 5),
    }


def test_pack_chunks_buckets_are_independent(spark):
    from pyspark.sql import functions as F
    from tibame_project_spark.functions.textstats import pack_chunks

    chunks = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("chunk_idx"),
        F.lit(7).alias("n_tokens"),
    )
    out = pack_chunks(chunks, seq_tokens=21, n_buckets=4)
    # within every bucket, offsets restart and never exceed capacity
    assert out.filter("seq_offset >= 21 OR seq_offset < 0").count() == 0
    assert out.select("bucket").distinct().count() == 4
    # stream layout is a pure function of (bucket, doc, idx): re-running agrees
    again = {tuple(r) for r in pack_chunks(chunks, seq_tokens=21, n_buckets=4).collect()}
    assert {tuple(r) for r in out.collect()} == again


def test_scd2_collapses_and_closes_intervals(spark):
    from tibame_project_spark.operators.scd import scd2_from_observations

    obs = spark.createDataFrame(
        [
            # key 1: A, A (no change), B, B, A  -> intervals A, B, A
            (1, "A", dt.datetime(2024, 1, 1), 10),
            (1, "A", dt.datetime(2024, 1, 2), 11),
            (1, "B", dt.datetime(2024, 1, 3), 12),
            (1, "B", dt.datetime(2024, 1, 4), 13),
            (1, "A", dt.datetime(2024, 1, 5), 14),
            # key 2: same-timestamp tie broken by the tie column
            (2, "X", dt.datetime(2024, 2, 1), 20),
            (2, "Y", dt.datetime(2024, 2, 1), 21),
        ],
        ["k", "attr", "ts", "ev"],
    )
    out = scd2_from_observations(
        obs, key_col="k", attr_cols=["attr"], ts_col="ts", tie_col="ev"
    ).collect()
    k1 = sorted([r for r in out if r.k == 1], key=lambda r: r.valid_from)
    assert [r.attr for r in k1] == ["A", "B", "A"]
    assert [r.is_current for r in k1] == [False, False, True]
    assert k1[0].valid_to == dt.datetime(2024, 1, 3)
    assert k1[1].valid_to == dt.datetime(2024, 1, 5)
    assert k1[2].valid_to is None
    k2 = sorted([r for r in out if r.k == 2], key=lambda r: r.valid_from or dt.datetime.min)
    assert [r.attr for r in k2] == ["X", "Y"] and k2[1].is_current


def test_domain_mix_sample_hits_targets(spark):
    from pyspark.sql import functions as F
    from tibame_project_spark.partitioning import domain_mix_sample

    df = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("src"),
    )  # 1000 rows per domain s0/s1/s2
    out = domain_mix_sample(
        df, domain_col="src", weights={"s0": 3.0, "s1": 1.0}, total=400,
        id_col="doc_id",
    )
    got = {r.src: r.n for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert set(got) == {"s0", "s1"}              # unweighted s2 dropped
    # hash threshold approximates the asked-for 300/100 split
    assert abs(got["s0"] - 300) < 60 and abs(got["s1"] - 100) < 40
    # deterministic: same rows on re-run
    assert {r.doc_id for r in out.collect()} == {
        r.doc_id
        for r in domain_mix_sample(
            df, domain_col="src", weights={"s0": 3.0, "s1": 1.0}, total=400,
            id_col="doc_id",
        ).collect()
    }


def test_temperature_mix_flattens_toward_sqrt(spark):
    """alpha=0.5 resampling keeps the smallest domain whole and cuts larger
    domains to ~sqrt(n_c * n_min) rows, deterministically."""
    import math

    from pyspark.sql import functions as F
    from tibame_project_spark.partitioning import temperature_mix_sample

    # 3 domains with counts 400 / 1600 / 6400 (16x head-to-tail spread)
    df = spark.range(8400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 400, "tail")
        .when(F.col("id") < 2000, "mid")
        .otherwise("head")
        .alias("src"),
    )
    out = temperature_mix_sample(df, domain_col="src", id_col="doc_id")
    got = {r.src: r.n for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert got["tail"] == 400  # rate 1: smallest domain keeps every row
    # expected sqrt(n_c * n_min): mid = sqrt(1600*400) = 800, head = 1600
    assert abs(got["mid"] - math.sqrt(1600 * 400)) < 90
    assert abs(got["head"] - math.sqrt(6400 * 400)) < 130
    # deterministic hash selection: identical rows on re-run
    again = temperature_mix_sample(df, domain_col="src", id_col="doc_id")
    assert {r.doc_id for r in out.collect()} == {r.doc_id for r in again.collect()}


def test_diverse_topk_caps_labels_and_ranks_by_score(spark):
    """diverse_topk returns the global top-k among per-label-capped
    candidates, matching a brute-force python model with the same
    (score desc, id) tie-break."""
    from pyspark.sql import functions as F  # noqa: F401
    from tibame_project_spark.operators.similarity import diverse_topk

    # 1-D embeddings: cosine vs query [1.0] is sign(v), so score ties are
    # plentiful and the (score, id) tie-break is what's under test; use 2-D
    # instead to get distinct scores per item.
    items = [
        (10, [1.0, 0.0], 0),   # score 1.0, label 0
        (11, [0.9, 0.1], 0),   # label 0
        (12, [0.8, 0.2], 0),   # label 0 — capped out at cap=2
        (13, [0.5, 0.5], 1),   # label 1
        (14, [0.0, 1.0], 1),   # label 1
        (15, [-1.0, 0.0], 2),  # label 2, negative score
    ]
    idf = spark.createDataFrame(
        items, "vec_id int, embedding array<double>, label int"
    )
    qdf = spark.createDataFrame([(0, [1.0, 0.0])], "query_id int, embedding array<double>")
    out = diverse_topk(idf, qdf, k=4, per_label_cap=2).collect()
    assert [(r.vec_id, r.label, r.rank) for r in sorted(out, key=lambda r: r.rank)] == [
        (10, 0, 1),  # 1.000
        (11, 0, 2),  # ~0.994
        (13, 1, 3),  # ~0.707 — 12 (0.970, label 0) excluded by the cap
        (14, 1, 4),  # 0.0
    ]
    from collections import Counter

    label_counts = Counter(r.label for r in out)
    assert all(v <= 2 for v in label_counts.values())


def test_weighted_sample_respects_rates(spark):
    """rate 0 keeps nothing, rate 1 keeps everything, fractional rates keep
    roughly that share — and selection is deterministic."""
    from pyspark.sql import functions as F
    from tibame_project_spark.partitioning import weighted_sample

    df = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, 0.0)
        .when(F.col("id") % 3 == 1, 1.0)
        .otherwise(0.5)
        .alias("rate"),
    )
    out = weighted_sample(df, rate_col="rate", id_col="doc_id")
    got = {r.rate: r.n for r in out.groupBy("rate").agg(F.count("*").alias("n")).collect()}
    assert 0.0 not in got                      # rate 0 → dropped
    assert got[1.0] == 1000                    # rate 1 → all kept
    assert abs(got[0.5] - 500) < 80            # fractional → ~share
    again = weighted_sample(df, rate_col="rate", id_col="doc_id")
    assert {r.doc_id for r in out.collect()} == {r.doc_id for r in again.collect()}


def test_bpe_pair_counts_matches_manual_model(spark):
    """Adjacent-pair counting over the BPE pre-tokens equals a hand-computed
    model, including the (count desc, pair) top-k cut and the single-token
    / empty-doc edge cases."""
    import re

    from tibame_project_spark.functions.textstats import BPE_RE, bpe_pair_counts

    texts = ["the cat, the cat", "the cat sat", "x", ""]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    from collections import Counter

    model = Counter()
    for t in texts:
        toks = re.findall(BPE_RE, t)
        for a, b in zip(toks, toks[1:]):
            model[a + "\u0001" + b] += 1
    expect = sorted(model.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    got = [(r.pair, r.n) for r in bpe_pair_counts(docs, "text", k=3).collect()]
    assert sorted(got, key=lambda kv: (-kv[1], kv[0])) == expect
    assert model  # the fixture genuinely produced pairs


def test_hard_negative_topk_excludes_anchor_label(spark):
    """Negatives are the most similar DIFFERENT-label items: the same-label
    nearest item never appears, ranking follows similarity then id."""
    from tibame_project_spark.operators.similarity import hard_negative_topk

    items = [
        (10, [1.0, 0.0], 0),   # same label as anchor — excluded despite top score
        (11, [0.9, 0.1], 1),
        (12, [0.8, 0.2], 2),
        (13, [0.0, 1.0], 1),
        (14, [-1.0, 0.0], 0),  # same label — excluded
    ]
    idf = spark.createDataFrame(items, "vec_id int, embedding array<double>, label int")
    qdf = spark.createDataFrame(
        [(0, [1.0, 0.0], 0)], "query_id int, embedding array<double>, label int"
    )
    out = sorted(
        hard_negative_topk(idf, qdf, k=3).collect(), key=lambda r: r.rank
    )
    assert [(r.vec_id, r.label, r.rank) for r in out] == [
        (11, 1, 1),
        (12, 2, 2),
        (13, 1, 3),
    ]
    assert all(r.label != 0 for r in out)


def test_global_sort_index_is_the_naive_global_order(spark):
    """The bucketed three-step enumeration assigns exactly the positions a
    naive single-reducer row_number() over (hash, id) would — a contiguous
    1..n permutation — including across bucket boundaries."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from tibame_project_spark.operators.dedup import md5_base_hash
    from tibame_project_spark.partitioning import global_sort_index

    df = spark.range(997).select(F.col("id").alias("doc_id"))  # prime: no
    # alignment with the 2^bucket_bits bucket count
    got = {
        r.doc_id: r.pos
        for r in global_sort_index(
            df, id_col="doc_id", base_hash=md5_base_hash, bucket_bits=4
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
    assert sorted(got.values()) == list(range(1, 998))


def test_c4_line_filter_rules(spark):
    from tibame_project_spark.functions.textstats import c4_line_filter

    docs = spark.createDataFrame(
        [
            (1, "A good long sentence stays here.\nshort.\nno terminal punct here\n"
                "Click here to enable JavaScript now.\nfunction() { return 1; }\n"
                "Another keeper line survives too!"),
            (2, "lorem ipsum dolor sit amet."),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in c4_line_filter(docs, "text", "doc_id").collect()}
    assert out[1].text == "A good long sentence stays here.\nAnother keeper line survives too!"
    assert (out[1].n_lines_kept, out[1].n_lines_dropped) == (2, 4)
    assert out[2].text == "" and out[2].n_lines_kept == 0


def test_unigram_lm_score_values(spark):
    from tibame_project_spark.functions.textstats import unigram_lm_score

    docs = spark.createDataFrame(
        [
            (1, "the the cat"),     # the:3 (corpus), cat:1
            (2, "the dog dog"),     # dog:2
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in unigram_lm_score(docs, "text", "doc_id").collect()}
    # corpus counts: the=3, cat=1, dog=2
    assert out[1].n_tokens == 3 and out[1].sum_freq == 3 + 3 + 1
    assert out[1].mean_freq == 7 / 3 and out[1].rare_ratio == 1 / 3
    assert out[2].sum_freq == 3 + 2 + 2 and out[2].rare_ratio == 0.0


def test_snapshot_diff_tags_and_nullsafety(spark):
    from tibame_project_spark.operators.corrections import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", 4.0)],
        "k long, name string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0),      # same
         (2, "b", 2.0),      # NULL -> value = update
         (3, None, 3.0),     # value -> NULL = update
         (5, "e", 5.0)],     # insert; 4 deleted
        "k long, name string, v double",
    )
    out = {r.k: r for r in snapshot_diff(old, new, "k").collect()}
    assert out[1].op == "same"
    assert out[2].op == "update" and out[2].old_v is None and out[2].new_v == 2.0
    assert out[3].op == "update" and out[3].new_name is None
    assert out[4].op == "delete" and out[4].new_name is None
    assert out[5].op == "insert" and out[5].old_name is None


def test_apply_diff_roundtrips_snapshot_diff(spark):
    """derive→apply identity at the DataFrame level: applying
    snapshot_diff(old, new) onto old reproduces new exactly — including
    NULL transitions and the untouched passthrough rows."""
    from tibame_project_spark.operators.corrections import (
        apply_diff,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", 4.0)],
        "k long, name string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0), (5, "e", 5.0)],
        "k long, name string, v double",
    )
    got = apply_diff(old, snapshot_diff(old, new, "k"), "k")
    assert got.columns == old.columns
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in new.collect()}
    # empty feed is the identity
    empty = snapshot_diff(old, old, "k").where("op <> 'same'")
    same = apply_diff(old, empty, "k")
    assert {tuple(r) for r in same.collect()} == {tuple(r) for r in old.collect()}


def test_profile_table_counts(spark):
    from tibame_project_spark.catalog import profile_table

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, None), (None, "y")],
        "a long, b string",
    )
    out = {r.column: r for r in profile_table(df).collect()}
    assert (out["a"].n_rows, out["a"].n_null, out["a"].n_distinct) == (4, 1, 3)
    assert (out["b"].n_rows, out["b"].n_null, out["b"].n_distinct) == (4, 1, 2)


def test_leakage_safe_split_groups_stay_together(spark):
    from pyspark.sql import functions as F
    from tibame_project_spark.partitioning import leakage_safe_split

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("g"), (F.col("id") % 50).cast("string")).alias("grp"),
    )
    out = leakage_safe_split(
        df, group_col="grp", fractions={"train": 0.8, "val": 0.1, "test": 0.1}
    )
    # every group maps to exactly one split (the leakage guard)
    assert (
        out.groupBy("grp").agg(F.countDistinct("split").alias("k"))
        .filter("k != 1").count() == 0
    )
    splits = {r.split for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits
    # deterministic across runs
    a = {(r.doc_id, r.split) for r in out.collect()}
    b = {
        (r.doc_id, r.split)
        for r in leakage_safe_split(
            df, group_col="grp", fractions={"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    assert a == b


def test_merge_aggregates_equals_full_recompute(spark):
    from pyspark.sql import functions as F
    from tibame_project_spark.operators.corrections import merge_aggregates

    rows = [(i % 3, float(i), 1) for i in range(100)]
    df = spark.createDataFrame(rows, "k int, v double, one int")

    def agg(rel):
        return rel.groupBy("k").agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )

    inc = merge_aggregates(
        agg(df.filter("v < 50")), agg(df.filter("v >= 50")),
        ["k"], counts=["n"], sums=["s"], mins=["mn"], maxs=["mx"],
    )
    full = agg(df)
    a = {tuple(r) for r in inc.select("k", "n", F.col("s").cast("double"), "mn", "mx").collect()}
    b = {tuple(r) for r in full.select("k", "n", F.col("s").cast("double"), "mn", "mx").collect()}
    assert a == b


# ---------------------------------------------------------------------------
# analytics: gap fill / cohort / funnel / histogram / pearson
# ---------------------------------------------------------------------------

def test_gap_fill_forward_fills_and_flags(spark):
    from datetime import date
    from tibame_project_spark.operators.analytics import gap_fill

    daily = spark.createDataFrame(
        [("a", date(2024, 1, 1), 10.0), ("a", date(2024, 1, 4), 40.0),
         ("b", date(2024, 1, 2), 5.0)],
        ["k", "day", "v"],
    )
    out = {(r.k, str(r.day)): (r.v, r.is_observed)
           for r in gap_fill(daily, ["k"], "day", ["v"]).collect()}
    # a: 4-day span, middle days carried forward from Jan 1
    assert out[("a", "2024-01-01")] == (10.0, True)
    assert out[("a", "2024-01-02")] == (10.0, False)
    assert out[("a", "2024-01-03")] == (10.0, False)
    assert out[("a", "2024-01-04")] == (40.0, True)
    # b: single-day span, no padding beyond its own bounds
    assert [k for k in out if k[0] == "b"] == [("b", "2024-01-02")]


def test_gap_fill_global_range_literals(spark):
    from datetime import date
    from pyspark.sql import functions as F
    from tibame_project_spark.operators.analytics import gap_fill

    daily = spark.createDataFrame(
        [("a", date(2024, 1, 3), 1.0)], ["k", "day", "v"]
    )
    out = gap_fill(
        daily, ["k"], "day", ["v"],
        start=F.lit(date(2024, 1, 1)), end=F.lit(date(2024, 1, 5)),
    ).collect()
    assert len(out) == 5
    # before first observation: NULL, not carried
    by_day = {str(r.day): r.v for r in out}
    assert by_day["2024-01-01"] is None and by_day["2024-01-05"] == 1.0


def test_funnel_strict_ordering(spark):
    from datetime import datetime
    from tibame_project_spark.operators.analytics import funnel_conversion

    ts = lambda h: datetime(2024, 1, 1, h)
    events = spark.createDataFrame(
        # u1 completes in order; u2 purchases BEFORE clicking (stage 3 no)
        # u3 never clicks
        [("u1", ts(1), "view"), ("u1", ts(2), "click"), ("u1", ts(3), "purchase"),
         ("u2", ts(1), "view"), ("u2", ts(3), "click"), ("u2", ts(2), "purchase"),
         ("u3", ts(1), "view")],
        ["user_id", "ts", "event_type"],
    )
    out = {r.stage: r.n_entities for r in funnel_conversion(
        events, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}


def test_cohort_retention_week_bucket(spark):
    from datetime import datetime
    from tibame_project_spark.operators.analytics import cohort_retention

    events = spark.createDataFrame(
        [("u1", datetime(2024, 1, 1)), ("u1", datetime(2024, 1, 10)),
         ("u2", datetime(2024, 1, 10))],
        ["user_id", "ts"],
    )
    out = {(str(r.cohort), r.offset): r.n_active for r in cohort_retention(
        events, "user_id", "ts", bucket="week"
    ).collect()}
    # u1's cohort week starts Mon Jan 1; Jan 10 is 9 days later -> offset 1
    assert out[("2024-01-01", 0)] == 1 and out[("2024-01-01", 1)] == 1
    assert out[("2024-01-08", 0)] == 1


def test_histogram_fixed_clamps_edges(spark):
    from tibame_project_spark.operators.analytics import histogram_fixed

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.9,), (10.0,), (95.0,), (200.0,)], ["x"]
    )
    out = {r.bucket: (r.bucket_lo, r.n) for r in histogram_fixed(
        df, "x", 0.0, 100.0, 10
    ).collect()}
    assert out[0] == (0.0, 3)   # -5 clamps in, 0.0 and 9.9 natural
    assert out[1] == (10.0, 1)
    assert out[9] == (90.0, 2)  # 95 natural, 200 clamps into top bucket


def test_pearson_stats_matches_closed_form(spark):
    import math
    from tibame_project_spark.operators.analytics import pearson_stats

    xs = [1.0, 2.0, 3.0, 4.0]
    ys = [2.0, 4.0, 7.0, 8.0]
    df = spark.createDataFrame(list(zip(xs, ys)), ["x", "y"])
    r = pearson_stats(df, "x", "y").collect()[0]
    n = 4
    sx, sy = sum(xs), sum(ys)
    sxx, syy, sxy = sum(x*x for x in xs), sum(y*y for y in ys), sum(x*y for x, y in zip(xs, ys))
    corr = (n*sxy - sx*sy) / math.sqrt((n*sxx - sx*sx) * (n*syy - sy*sy))
    assert r.n == 4
    assert abs(r.corr_xy - corr) < 1e-12
    assert abs(r.covar_xy - 3.5) < 1e-12  # hand-checked sample covariance
    # repartition-invariance: identical bits on a different layout
    r2 = pearson_stats(df.repartition(7), "x", "y").collect()[0]
    assert r2.corr_xy == r.corr_xy and r2.covar_xy == r.covar_xy


# ---------------------------------------------------------------------------
# sparse (bag-of-words) cosine via inverted-index join


def test_sparse_cosine_topk_matches_hand_cosine(spark):
    import math

    from tibame_project_spark.operators.similarity import sparse_cosine_topk

    docs = spark.createDataFrame(
        [
            (10, "apple banana apple"),          # tf: apple 2, banana 1
            (11, "banana cherry"),
            (12, "cherry cherry cherry date"),
            (13, "unrelated words entirely"),
        ],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame(
        [(1, "apple banana")], ["query_id", "text"]
    )
    out = sparse_cosine_topk(docs, queries, k=3, df_frac_cap=None)
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 13 shares no token → no candidate row at all
    assert set(rows) == {10, 11}
    # cos(doc10, q) = (2*1 + 1*1) / (sqrt(5) * sqrt(2))
    assert rows[10]["score"] == round(3 / (math.sqrt(5) * math.sqrt(2)), 4)
    assert rows[10]["rank"] == 1
    # cos(doc11, q) = 1 / (sqrt(2) * sqrt(2))
    assert rows[11]["score"] == 0.5
    assert rows[11]["rank"] == 2


def test_sparse_cosine_df_cap_prunes_hot_tokens(spark):
    from tibame_project_spark.operators.similarity import sparse_cosine_topk

    # "the" appears in every doc; with df_frac_cap=0.5 it must not
    # contribute — doc 22 then shares nothing with the query
    docs = spark.createDataFrame(
        [
            (20, "the apple"),
            (21, "the apple apple"),
            (22, "the fence"),
            (23, "the gate"),
        ],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame([(1, "the apple")], ["query_id", "text"])
    out = sparse_cosine_topk(docs, queries, k=4, df_frac_cap=0.5)
    rows = out.collect()
    assert {r["doc_id"] for r in rows} == {20, 21}
    # pruned-space cosine: q = {apple:1}, doc20 = {apple:1} → 1.0
    assert {r["doc_id"]: r["score"] for r in rows} == {20: 1.0, 21: 1.0}
    # no cross product anywhere: candidate generation is the token equi-join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_sparse_cosine_null_ids_are_not_ranked_but_count(spark):
    """A NULL doc or query id is never ranked, as in the oracle's id-key
    joins; the NULL-id doc still counts in the document frequency and is
    the only posting of "fig", which still counts in the query norm."""
    from tibame_project_spark.operators.similarity import sparse_cosine_topk

    docs = spark.createDataFrame(
        [(None, "apple fig"), (30, "apple"), (31, "banana")],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "apple fig"), (None, "apple")], "query_id long, text string"
    )
    for cap in (None, 0.7):
        rows = [tuple(r) for r in sparse_cosine_topk(
            docs, queries, k=3, df_frac_cap=cap
        ).collect()]
        # q1 = {apple, fig}: cos(doc30, q1) = 1 / (1 · √2)
        assert rows == [(1, 30, 1, 0.7071)], (cap, rows)


# ---------------------------------------------------------------------------
# layout-optimized (sorted) parquet write → row-group data skipping


def test_write_sorted_parquet_yields_skippable_row_groups(spark, tmp_path):
    """After a range-repartition + within-partition sort, the clustered
    column's row-group [min, max] ranges are disjoint — so a stats-aware
    reader skips all but one row group for a point predicate. The unsorted
    control write leaves (nearly) every row group spanning the full value
    range, which is what makes min/max stats useless without the layout."""
    import glob

    import pyarrow.parquet as pq

    from tibame_project_spark.sources.writers import write_sorted_parquet

    df = (
        spark.range(20000)
        .withColumn("k", (F.col("id") * 7919) % 20000)  # shuffled values
        .withColumn("payload", F.md5(F.col("id").cast("string")))
    )

    def rg_ranges(path):
        out = []
        for f in sorted(glob.glob(path + "/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            for i in range(md.num_row_groups):
                col = next(
                    md.row_group(i).column(j)
                    for j in range(md.row_group(i).num_columns)
                    if md.row_group(i).column(j).path_in_schema == "k"
                )
                out.append((col.statistics.min, col.statistics.max))
        return out

    sorted_path = str(tmp_path / "sorted")
    write_sorted_parquet(df, sorted_path, layout_cols="k", n_files=4)
    ranges = sorted(rg_ranges(sorted_path))
    assert len(ranges) >= 4
    # disjoint: each row group's max is below the next one's min
    assert all(a_max < b_min for (_, a_max), (b_min, _) in zip(ranges, ranges[1:]))

    unsorted_path = str(tmp_path / "unsorted")
    df.repartition(4).write.parquet(unsorted_path)
    probe = 10000
    overlapping = [r for r in rg_ranges(unsorted_path) if r[0] <= probe <= r[1]]
    containing = [r for r in ranges if r[0] <= probe <= r[1]]
    # the point predicate hits exactly one sorted row group but (almost)
    # every unsorted one
    assert len(containing) == 1
    assert len(overlapping) >= 3

    # and the predicate actually reaches the scan on read-back
    plan = (
        spark.read.parquet(sorted_path)
        .filter(F.col("k") == probe)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(k), EqualTo(k," in plan


# ---------------------------------------------------------------------------
# random projection (Johnson-Lindenstrauss) + projected-space ANN


def test_random_project_matches_sequential_fold(spark):
    from tibame_project_spark.operators.similarity import random_project

    planes = [[1.0, -1.0, 1.0], [0.5, 0.25, -1.0]]
    vecs = [(1, [0.3, -1.7, 2.9]), (2, [0.0, 0.1, -0.2])]
    df = spark.createDataFrame(vecs, "id long, embedding array<double>")
    out = {
        r["id"]: r["p"]
        for r in df.select(
            "id", random_project(F.col("embedding"), planes).alias("p")
        ).collect()
    }

    def fold_dot(p, v):
        acc = 0.0
        for x, w in zip(v, p):
            acc = acc + w * x
        return acc

    for i, v in vecs:
        assert out[i] == [fold_dot(p, v) for p in planes]


def test_rp_cosine_topk_ranks_in_projected_space(spark):
    from tibame_project_spark.operators.similarity import rp_cosine_topk

    # identity-ish planes: projection keeps the first two coordinates, so
    # projected-space cosine is hand-computable
    planes = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    items = spark.createDataFrame(
        [(10, [1.0, 0.0, 9.0]), (11, [0.0, 1.0, 9.0]), (12, [1.0, 1.0, 9.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(1, [2.0, 0.0, -5.0])], "query_id long, embedding array<double>"
    )
    rows = rp_cosine_topk(items, queries, planes, k=3).collect()
    got = [(r["vec_id"], r["rank"], r["score"]) for r in rows]
    # projected: q=(2,0); item10=(1,0) cos=1; item12=(1,1) cos=.7071; item11=(0,1) cos=0
    assert got == [(10, 1, 1.0), (12, 2, 0.7071), (11, 3, 0.0)]


# ---------------------------------------------------------------------------
# curriculum ordering (tier-major deterministic shuffle)


def test_curriculum_index_orders_tiers_then_hash(spark):
    from tibame_project_spark.operators.dedup import md5_base_hash
    from tibame_project_spark.partitioning import curriculum_index

    rows = [(i, i % 3) for i in range(60)]  # tiers 0,1,2
    df = spark.createDataFrame(rows, "id long, tier int")
    out = curriculum_index(
        df, tier_col="tier", id_col="id", base_hash=md5_base_hash
    ).collect()
    assert sorted(r["pos"] for r in out) == list(range(1, 61))
    # tier-major: every tier-2 position precedes every tier-1, etc.
    by_tier = {}
    for r in out:
        by_tier.setdefault(r["tier"], []).append(r["pos"])
    assert max(by_tier[2]) < min(by_tier[1]) < max(by_tier[1]) < min(by_tier[0])
    # within a tier the order is exactly (hash, id) — replay in python
    import hashlib

    def h(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    want = sorted((r["id"] for r in out if r["tier"] == 2), key=lambda i: (h(i), i))
    got = [
        r["id"]
        for r in sorted(
            (r for r in out if r["tier"] == 2), key=lambda r: r["pos"]
        )
    ]
    assert got == want


def test_write_zorder_parquet_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order vs 1-D sort on a 256x256 grid: a box predicate must
    intersect strictly fewer row groups in the Morton layout, and a
    predicate on the SECOND dimension alone — which a linear x-sort cannot
    prune at all — must skip most Z-ordered row groups."""
    import glob

    import pyarrow.parquet as pq

    from tibame_project_spark.sources.writers import (
        write_sorted_parquet,
        write_zorder_parquet,
    )

    df = (
        spark.range(256 * 256)
        .withColumn("x", (F.col("id") % 256).cast("long"))
        .withColumn("y", (F.col("id") / 256).cast("long"))
    )

    def rg_ranges(path):
        out = []
        for f in sorted(glob.glob(path + "/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                stats = {}
                for j in range(rg.num_columns):
                    c = rg.column(j)
                    stats[c.path_in_schema] = (c.statistics.min, c.statistics.max)
                out.append(stats)
        return out

    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zorder_parquet(df, zpath, layout_cols=["x", "y"], bits=8, n_files=16)
    write_sorted_parquet(df, spath, layout_cols="x", n_files=16)
    zr, sr = rg_ranges(zpath), rg_ranges(spath)
    assert len(zr) >= 16 and len(sr) >= 16

    def hits(ranges, col, lo, hi):
        return sum(1 for st in ranges if st[col][0] <= hi and lo <= st[col][1])

    def box_hits(ranges, bx, by):
        return sum(
            1
            for st in ranges
            if st["x"][0] <= bx[1] and bx[0] <= st["x"][1]
            and st["y"][0] <= by[1] and by[0] <= st["y"][1]
        )

    # box query: pruned in both layouts, but Z-order prunes strictly harder
    assert box_hits(zr, (0, 63), (0, 63)) < box_hits(sr, (0, 63), (0, 63))
    # y-only predicate: the x-sorted layout cannot prune AT ALL (every row
    # group spans the full y range); Z-order skips most row groups
    assert hits(sr, "y", 0, 15) == len(sr)
    assert hits(zr, "y", 0, 15) <= len(zr) // 2


# ---------------------------------------------------------------------------
# group-wise z-score normalization (decimal sufficient stats)


def test_minhash_incremental_signature_reuse(spark, tmp_path):
    """The sketch-once contract end-to-end: the old corpus's signature
    table is materialized ONCE; when a delta batch arrives only the delta
    is sketched, and pair generation over the unioned signature relations
    equals the full recompute — old TEXT is never re-read."""
    from tibame_project_spark.operators.dedup import (
        md5_base_hash,
        minhash_dedup_pairs,
        minhash_pairs_from_signatures,
        minhash_signature_table,
    )

    old_docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "completely different text about parquet row groups"),
    ]
    delta_docs = [
        (4, "the quick brown fox jumps over the lazy dog today"),  # dup of 1
        (5, "unrelated delta document with fresh content"),
    ]
    kw = dict(n=3, num_perm=32, base_hash=md5_base_hash)
    old = spark.createDataFrame(old_docs, "doc_id long, text string")
    sig_path = str(tmp_path / "signatures")
    minhash_signature_table(old, "text", "doc_id", **kw).write.parquet(sig_path)

    delta = spark.createDataFrame(delta_docs, "doc_id long, text string")
    unioned = spark.read.parquet(sig_path).unionByName(
        minhash_signature_table(delta, "text", "doc_id", **kw)
    )
    incremental = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_pairs_from_signatures(unioned, threshold=0.5).collect()
    }
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(
            spark.createDataFrame(old_docs + delta_docs, "doc_id long, text string"),
            "text",
            "doc_id",
            threshold=0.5,
            **kw,
        ).collect()
    }
    assert incremental == full
    assert (1, 4, 1.0) in incremental or any(a == 1 and b == 4 for a, b, _ in incremental)


def test_resize_media_deterministic_subsample(spark):
    """The resize stage's plumbing: binary in → smaller binary out, exact
    byte-subsample semantics, nulls and small payloads passed through."""
    from tibame_project_spark.sources.multimodal import resize_media

    big = bytes(range(256)) * 4  # 1024 bytes
    small = b"tiny"
    rows = [("a", "image", big), ("b", "image", small), ("c", "image", None)]
    df = spark.createDataFrame(rows, "media_id string, kind string, content binary")
    out = {r["media_id"]: r for r in resize_media(df, target_bytes=256).collect()}
    assert out["a"]["n_bytes_in"] == 1024 and out["a"]["n_bytes_out"] == 256
    assert bytes(out["a"]["content"]) == big[::4]  # ceil(1024/256) = 4
    assert bytes(out["b"]["content"]) == small  # under target: unchanged
    assert out["c"]["content"] is None and out["c"]["n_bytes_out"] == 0


def test_rp_ann_recall_on_clustered_vectors(spark):
    """The JL trade measured where it is defined: on CLUSTERED vectors
    (planted near-neighbors) a 64→16 projection must keep retrieval inside
    the true cluster. On isotropic noise (the synthetic
    embeddings table: max pairwise cosine ≈ 0.6) projected rankings
    decorrelate by design — that is a property of the data, not a defect
    of the operator, and rp_ann's docstring says so."""
    import random

    from tibame_project_spark.operators.similarity import (
        cosine_topk,
        rp_cosine_topk,
    )
    import __spark_entry__ as entry

    rng = random.Random(7)
    centers = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(5)]

    def jitter(c):
        return [v + rng.uniform(-0.05, 0.05) for v in c]

    items = [(100 + i, jitter(centers[i % 5])) for i in range(50)]
    queries = [(j, jitter(centers[j])) for j in range(5)]
    idf = spark.createDataFrame(items, "vec_id long, embedding array<double>")
    qdf = spark.createDataFrame(queries, "query_id long, embedding array<double>")
    # same-cluster vectors are deliberate near-ties (cosine ≈ 0.997 vs
    # 0.998), so exact rank order among them is not what a JL projection
    # preserves — cluster membership is: every projected top-3 hit must
    # come from the query's own cluster, exactly like the exact search
    for df_out, label in (
        (cosine_topk(idf, qdf, k=3), "exact"),
        (rp_cosine_topk(idf, qdf, entry._RP_SIGNS, k=3), "projected"),
    ):
        for r in df_out.collect():
            assert (r["vec_id"] - 100) % 5 == r["query_id"], (
                f"{label} search left cluster {r['query_id']}: {r['vec_id']}"
            )


def test_zorder_key_rejects_sign_bit_overflow(spark):
    import pytest as _pytest

    from tibame_project_spark.sources.writers import zorder_key

    with _pytest.raises(ValueError, match="sign bit"):
        zorder_key(["a", "b", "c", "d"], bits=16)  # 64 interleaved bits


def test_rolling_distinct_merges_sketches_not_events(spark):
    """Sliding distinct users from merged per-day HLL sketches: equal to
    the exact sliding COUNT(DISTINCT) at these cardinalities (sparse-mode
    HLL is exact when small), with a RANGE frame that honors calendar
    gaps."""
    from tibame_project_spark.operators.analytics import rolling_distinct

    rows = []
    for day, users in [(1, [1, 2]), (2, [2, 3]), (4, [9])]:
        for u in users:
            rows.append((f"2024-01-0{day} 10:00:00", u, "click"))
    df = spark.createDataFrame(
        rows, "ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["day"].day: r["users_est"]
        for r in rolling_distinct(
            df, group_cols=["event_type"], window_days=2
        ).collect()
    }
    # day1: {1,2}=2; day2: union {1,2,3}=3; day4: day3 out of range → {9}=1
    assert out == {1: 2, 2: 3, 4: 1}


def test_hybrid_rerank_inline_semantics(spark):
    """Debuggable inline check (the sf parity test proves scale): the
    lexical stage nominates shared-token docs, the dense stage reorders
    them by embedding cosine — a doc lexically similar but semantically
    orthogonal must rank below a lexically weaker, semantically identical
    one."""
    from tibame_project_spark.operators.similarity import hybrid_rerank

    docs = spark.createDataFrame(
        [(10, "apple banana cherry"), (11, "apple banana date"), (12, "unrelated words")],
        "doc_id long, text string",
    )
    qtext = spark.createDataFrame([(1, "apple banana")], "query_id long, text string")
    ivecs = spark.createDataFrame(
        [(10, [0.0, 1.0]), (11, [1.0, 0.0]), (12, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    qvecs = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    rows = hybrid_rerank(
        docs, qtext, ivecs, qvecs, n_candidates=5, k=3, df_frac_cap=None
    ).collect()
    got = [(r["doc_id"], r["rank"], r["dense_score"]) for r in rows]
    # doc 12 shares no token → never a candidate; doc 11 (dense cos 1.0)
    # outranks doc 10 (dense cos 0.0) despite identical lexical overlap
    assert got == [(11, 1, 1.0), (10, 2, 0.0)]


# ---------------------------------------------------------------------------
# spatial radius join (grid-blocked, haversine-verified)


def test_radius_join_matches_brute_force(spark):
    """Grid blocking must lose nothing: the blocked join equals the
    brute-force cross-product + haversine filter on scattered points
    including pairs that straddle cell boundaries, and plans no cartesian
    product between the real relations."""
    import itertools
    import math

    from tibame_project_spark.operators.joins import radius_join

    import random

    rng = random.Random(11)
    hotels = [(i, 25.0 + rng.uniform(-0.5, 0.5), 121.5 + rng.uniform(-0.5, 0.5)) for i in range(40)]
    sights = [(100 + i, 25.0 + rng.uniform(-0.5, 0.5), 121.5 + rng.uniform(-0.5, 0.5)) for i in range(40)]
    ldf = spark.createDataFrame(hotels, "hotel_id long, lat double, lon double")
    rdf = spark.createDataFrame(sights, "sight_id long, lat double, lon double")
    got = {
        (r["hotel_id"], r["sight_id"])
        for r in radius_join(
            ldf, rdf, left_id="hotel_id", right_id="sight_id", radius_km=5.0
        ).collect()
    }

    def hav(a, b):
        la1, lo1, la2, lo2 = map(math.radians, [a[1], a[2], b[1], b[2]])
        x = (
            math.sin((la2 - la1) / 2) ** 2
            + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2
        )
        return 2 * 6371.0088 * math.atan2(math.sqrt(x), math.sqrt(1 - x))

    want = {
        (h[0], s[0])
        for h, s in itertools.product(hotels, sights)
        if hav(h, s) <= 5.0
    }
    assert got == want and len(want) > 0

    plan = (
        radius_join(ldf, rdf, left_id="hotel_id", right_id="sight_id", radius_km=5.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_radius_join_grid_matches_brute_force(spark):
    """The integer-grid twin must be bit-exact vs the brute-force integer
    predicate — including boundary pairs exactly AT radius² and pairs that
    straddle cell edges — and must not plan a cartesian product."""
    import itertools
    import random

    from tibame_project_spark.operators.joins import radius_join_grid

    rng = random.Random(7)
    left = [(i, rng.randrange(0, 3000), rng.randrange(0, 3000)) for i in range(60)]
    # include exact-boundary geometry: (2000,2000) vs (2300,2400) is dist²=250000
    left += [(900, 2000, 2000)]
    right = [(100 + i, rng.randrange(0, 3000), rng.randrange(0, 3000)) for i in range(60)]
    right += [(901, 2300, 2400), (902, 2300, 2401)]
    ldf = spark.createDataFrame(left, "cust long, x long, y long")
    rdf = spark.createDataFrame(right, "supp long, x long, y long")
    res = radius_join_grid(ldf, rdf, left_id="cust", right_id="supp", radius=500)
    got = {(r["cust"], r["supp"], r["dist2"]) for r in res.collect()}
    want = {
        (l[0], r[0], (l[1] - r[1]) ** 2 + (l[2] - r[2]) ** 2)
        for l, r in itertools.product(left, right)
        if (l[1] - r[1]) ** 2 + (l[2] - r[2]) ** 2 <= 250000
    }
    assert got == want and len(want) > 0
    assert (900, 901, 250000) in got  # exactly at the boundary: included
    assert (900, 902, 250801) not in got  # one unit past the boundary
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_bloom_semi_join_exact_and_no_false_negatives(spark):
    """bloom_semi_join must be bit-identical to a plain LEFT SEMI join
    (false positives removed by the real join), and the Bloom probe alone
    must never drop a true match (no false negatives by construction)."""
    from tibame_project_spark.operators.joins import (
        bloom_filter_table,
        bloom_prune,
        bloom_semi_join,
    )

    big = spark.createDataFrame(
        [(f"k{i}", i) for i in range(2000)], "key string, v int"
    )
    # 1% of the big side's keys, plus keys absent from big entirely
    small = spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 2000, 100)] + [("nope",)], "key string"
    )

    expected = sorted(
        big.join(small, "key", "left_semi").collect(), key=lambda r: r.v
    )
    got = sorted(
        bloom_semi_join(big, small, "key", num_bits=4096, num_hashes=5).collect(),
        key=lambda r: r.v,
    )
    assert got == expected and len(got) == 20

    # no false negatives: every build key passes the probe
    bitmap = bloom_filter_table(small, "key", num_bits=4096, num_hashes=5)
    survivors = bloom_prune(
        small, "key", bitmap, num_bits=4096, num_hashes=5
    ).count()
    assert survivors == small.count()
    spark.catalog.clearCache()


def test_bloom_prune_removes_nonmatching_majority(spark):
    """The point of the filter: with 10+ bits/key the pre-shuffle probe
    removes (nearly) all non-matching rows. n=21 keys, m=4096, k=5 →
    theoretical FPR ~2e-5, so the pruned side must collapse to ~the 20
    true matches out of 2000 rows."""
    from tibame_project_spark.operators.joins import bloom_filter_table, bloom_prune

    big = spark.createDataFrame(
        [(f"k{i}", i) for i in range(2000)], "key string, v int"
    )
    small = spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 2000, 100)] + [("nope",)], "key string"
    )
    bitmap = bloom_filter_table(small, "key", num_bits=4096, num_hashes=5)
    pruned = bloom_prune(big, "key", bitmap, num_bits=4096, num_hashes=5)
    # 20 true matches; allow a handful of false positives, no more
    assert 20 <= pruned.count() <= 30

    # bitmap relation is bounded by m/64 words no matter the build size
    assert bitmap.count() <= 4096 // 64


def test_bloom_filter_table_rejects_unaligned_bits(spark):
    from tibame_project_spark.operators.joins import bloom_filter_table

    df = spark.createDataFrame([("a",)], "key string")
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_filter_table(df, "key", num_bits=100)


def test_validate_expectations_counts_each_rule(spark):
    from tibame_project_spark.operators.expectations import (
        custom,
        in_range,
        in_set,
        matches,
        not_null,
        unique,
        validate_expectations,
    )

    df = spark.createDataFrame(
        [
            (1, "a@x.io", 10, "train"),
            (2, None, 150, "test"),
            (2, "bad-email", -5, "dev"),
            (3, "c@y.org", 50, "train"),
            (None, "d@z.net", None, "train"),
        ],
        "id int, email string, score int, split string",
    )
    rep = {
        r.rule: r
        for r in validate_expectations(
            df,
            [
                not_null("id"),
                unique("id"),
                in_range("score", 0, 100),
                matches("email", r"^[^@\s]+@[^@\s]+$"),
                in_set("split", ["train", "test"]),
                custom("even_id", "id", F.col("id") % 2 == 1),
            ],
        ).collect()
    }
    assert (rep["not_null(id)"].n_violations, rep["not_null(id)"].passed) == (1, False)
    # ids 1,2,2,3 -> one surplus copy of 2; the NULL id is not an identity
    assert rep["unique(id)"].n_violations == 1
    assert rep["in_range(score,0,100)"].n_violations == 2   # 150 and -5; NULL exempt
    assert rep["matches(email)"].n_violations == 1          # bad-email; NULL exempt
    assert rep["in_set(split)"].n_violations == 1           # dev
    assert rep["even_id"].n_violations == 2                 # ids 1 and 3
    assert all(r.n_rows == 5 for r in rep.values())
    assert rep["in_set(split)"].column == "split"


def test_validate_expectations_is_one_scan_and_gates(spark):
    """N row-wise rules must compile into ONE aggregate over ONE scan —
    the property that lets the gate run on every ingest batch."""
    from tibame_project_spark.operators.expectations import (
        in_range,
        not_null,
        validate_expectations,
    )

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 100).alias("v")
    )
    agg = df.agg(
        F.count(F.lit(1)),
        F.sum(F.when(F.col("id").isNull(), 1).otherwise(0)),
        F.sum(F.when(F.col("v") > 1000, 1).otherwise(0)),
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range") == 1  # the input is read once

    rep = validate_expectations(df, [not_null("id"), in_range("v", 0, 99)])
    assert [(r.passed) for r in rep.collect()] == [True, True]
    with pytest.raises(ValueError, match="at least one rule"):
        validate_expectations(df, [])


def test_validate_expectations_empty_batch_passes(spark):
    """An empty ingest batch has zero violations — the gate must pass it,
    not crash on NULL aggregate sums (sum over zero rows is NULL)."""
    from tibame_project_spark.operators.expectations import (
        in_range,
        not_null,
        unique,
        validate_expectations,
    )

    empty = spark.createDataFrame([], "id int, v int")
    rep = validate_expectations(
        empty, [not_null("id"), unique("id"), in_range("v", 0, 10)]
    ).collect()
    assert all(r.passed and r.n_violations == 0 and r.n_rows == 0 for r in rep)


def test_bloom_joins_caller_owned_bitmap_releases_cleanly(spark):
    """Passing a pre-built bitmap via bloom= must (a) give bit-identical
    results and (b) leave no lingering cached RDD after the caller
    unpersists it — the release path ADVICE asked for, without a global
    clearCache."""
    from tibame_project_spark.operators.joins import bloom_filter_table, bloom_semi_join

    big = spark.createDataFrame(
        [(f"k{i}", i) for i in range(1000)], "key string, v int"
    )
    small = spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 1000, 50)], "key string"
    )
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    bitmap = bloom_filter_table(small, "key", num_bits=4096, num_hashes=5).persist()
    semi = sorted(
        bloom_semi_join(
            big, small, "key", num_bits=4096, num_hashes=5, bloom=bitmap
        ).collect(),
        key=lambda r: r.v,
    )
    bitmap.unpersist(blocking=True)
    assert semi == sorted(
        big.join(small, "key", "left_semi").collect(), key=lambda r: r.v
    )
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set()


def test_observe_expectations_rides_the_write_job(spark, tmp_path):
    """The observed gate must report the same violations as the scan-based
    gate while the ONLY job run is the parquet write itself."""
    from tibame_project_spark.operators.expectations import (
        in_range,
        not_null,
        observe_expectations,
        unique,
        validate_expectations,
    )

    df = spark.createDataFrame(
        [(1, 10), (2, 150), (None, 50), (4, -5)], "id int, score int"
    )
    rules = [not_null("id"), in_range("score", 0, 100)]
    observed, report_fn = observe_expectations(df, rules)
    observed.write.parquet(str(tmp_path / "gated"))  # the one and only action
    rep = {r.rule: r for r in report_fn().collect()}
    assert rep["not_null(id)"].n_violations == 1
    assert rep["in_range(score,0,100)"].n_violations == 2
    assert all(r.n_rows == 4 for r in rep.values())
    # the written data is the input, untouched by the gate
    assert spark.read.parquet(str(tmp_path / "gated")).count() == 4

    # same report as the scan-based gate
    scan = {r.rule: r.n_violations for r in validate_expectations(df, rules).collect()}
    assert scan == {k: r.n_violations for k, r in rep.items()}

    # unique() cannot ride observe — refused upfront, not at job time
    with pytest.raises(ValueError, match="unique"):
        observe_expectations(df, [unique("id")])


def test_merge_upsert_one_pass_matches_sequential_composition(spark):
    """merge_upsert must equal the three-step composition (update matched,
    delete tombstoned, insert new) while planning a single full-outer join;
    a tombstone for an absent key must be a no-op, not an insert."""
    from tibame_project_spark.operators.corrections import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, v long"
    )
    source = spark.createDataFrame(
        [
            (2, "B", 200, False),   # matched -> update (full row)
            (3, "c", 30, True),     # matched + tombstone -> delete
            (4, "d", 40, False),    # new -> insert
            (9, "x", 99, True),     # tombstone for absent key -> no-op
        ],
        "id long, name string, v long, dead boolean",
    )
    got = sorted(
        tuple(r)
        for r in merge_upsert(target, source, "id", delete_col="dead").collect()
    )
    assert got == [(1, "a", 10), (2, "B", 200), (4, "d", 40)]
    # without a tombstone column: pure upsert
    got2 = sorted(
        tuple(r)
        for r in merge_upsert(
            target, source.drop("dead"), "id"
        ).collect()
    )
    assert got2 == [(1, "a", 10), (2, "B", 200), (3, "c", 30), (4, "d", 40), (9, "x", 99)]
    # column contract: a source missing target columns is rejected loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="missing"):
        merge_upsert(target, source.drop("v"), "id")
    # one pass: exactly one join in the plan, and it is the full-outer
    plan = (
        merge_upsert(target, source, "id", delete_col="dead")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FullOuter" in plan
    assert sum(line.count("Join") for line in plan.splitlines()) == 1


def test_bloom_joins_reject_mismatched_bitmap_params(spark):
    """A bitmap built with different num_bits/num_hashes than the probe
    would silently drop true matches; the stamped build parameters must be
    rejected loudly, schema-side, before any job runs."""
    from tibame_project_spark.operators.joins import bloom_filter_table, bloom_semi_join

    big = spark.createDataFrame([("k1", 1)], "key string, v int")
    small = spark.createDataFrame([("k1",)], "key string")
    bitmap = bloom_filter_table(small, "key", num_bits=8192, num_hashes=5)
    with pytest.raises(ValueError, match="num_bits"):
        bloom_semi_join(big, small, "key", num_bits=4096, num_hashes=5, bloom=bitmap)
    with pytest.raises(ValueError, match="num_bits"):
        bloom_semi_join(big, small, "key", num_bits=8192, num_hashes=3, bloom=bitmap)


def test_radius_join_grid_guards_and_huge_coordinates(spark):
    """radius <= 0 is rejected (cell width 0 would NULL every cell id and
    silently return nothing); coordinates beyond 2^53 — where double
    division would misassign cells — still match brute force exactly
    because cell ids use pure long arithmetic."""
    from tibame_project_spark.operators.joins import radius_join_grid

    ldf = spark.createDataFrame([(1, 0, 0)], "lid long, x long, y long")
    with pytest.raises(ValueError, match="radius"):
        radius_join_grid(ldf, ldf, left_id="lid", right_id="lid", radius=0)

    base = 1 << 60
    left = [(1, base, base), (2, base + 499, base), (3, -base, -base)]
    right = [(11, base + 300, base + 400), (12, -base + 5, -base - 5), (13, base + 10**6, base)]
    l = spark.createDataFrame(left, "cust long, x long, y long")
    r = spark.createDataFrame(right, "supp long, x long, y long")
    got = {
        (row.cust, row.supp, row.dist2)
        for row in radius_join_grid(
            l, r, left_id="cust", right_id="supp", radius=500
        ).collect()
    }
    want = {
        (a[0], b[0], (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2)
        for a in left
        for b in right
        if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= 250000
    }
    assert got == want and len(want) >= 2


def test_bloom_prune_rejects_mismatched_bitmap_params(spark):
    """bloom_prune is a public entry point with no downstream join to
    repair false negatives — a mismatched bitmap must be rejected there
    too, not only in the semi/anti wrappers."""
    from tibame_project_spark.operators.joins import bloom_filter_table, bloom_prune

    df = spark.createDataFrame([("k1", 1)], "key string, v int")
    small = spark.createDataFrame([("k1",)], "key string")
    bitmap = bloom_filter_table(small, "key", num_bits=8192, num_hashes=5)
    with pytest.raises(ValueError, match="num_bits"):
        bloom_prune(df, "key", bitmap, num_bits=4096, num_hashes=5)


def test_merge_upsert_null_keys_are_null_safe(spark):
    """A NULL-key change row must MATCH the NULL-key target row (update or
    delete), not re-insert a duplicate on every application — the re-apply
    fixpoint a CDC apply relies on."""
    from tibame_project_spark.operators.corrections import merge_upsert

    target = spark.createDataFrame([(None, 1), (7, 70)], "id integer, v long")
    src = spark.createDataFrame([(None, 2, False)], "id integer, v long, dead boolean")
    merged = merge_upsert(target, src, "id", delete_col="dead")
    got = sorted(((r.id, r.v) for r in merged.collect()), key=str)
    assert got == [(7, 70), (None, 2)]
    # fixpoint under redelivery: no duplicate NULL-key rows accumulate
    again = merge_upsert(merged, src, "id", delete_col="dead")
    assert sorted(((r.id, r.v) for r in again.collect()), key=str) == got
    # NULL-key tombstone deletes the NULL-key row
    tomb = spark.createDataFrame([(None, 2, True)], "id integer, v long, dead boolean")
    assert [(r.id, r.v) for r in merge_upsert(merged, tomb, "id", delete_col="dead").collect()] == [(7, 70)]


def test_radius_join_grid_rejects_float_radius(spark):
    from tibame_project_spark.operators.joins import radius_join_grid

    ldf = spark.createDataFrame([(1, 0, 0)], "lid long, x long, y long")
    with pytest.raises(ValueError, match="integer"):
        radius_join_grid(ldf, ldf, left_id="lid", right_id="lid", radius=2.5)
    # an integral float is fine (2.0 == int(2.0))
    assert radius_join_grid(ldf, ldf, left_id="lid", right_id="lid", radius=2.0).count() == 1


def test_merge_upsert_key_guards_and_nonfinite_radius(spark):
    from tibame_project_spark.operators.corrections import merge_upsert
    from tibame_project_spark.operators.joins import radius_join_grid

    df = spark.createDataFrame([(1, 2)], "id long, v long")
    with pytest.raises(ValueError, match="at least one key"):
        merge_upsert(df, df, [])
    ldf = spark.createDataFrame([(1, 0, 0)], "lid long, x long, y long")
    for bad in (float("inf"), float("nan")):
        with pytest.raises(ValueError, match="positive integer"):
            radius_join_grid(ldf, ldf, left_id="lid", right_id="lid", radius=bad)


def test_radius_join_grid_rejects_nonintegral_coordinate_columns(spark):
    """r06 ADVICE: .cast('long') on float coordinates would TRUNCATE and
    silently shrink the match set — reject loudly like the radius guard."""
    from tibame_project_spark.operators.joins import radius_join_grid

    fdf = spark.createDataFrame([(1, 0.5, 0.0)], "lid long, x double, y double")
    with pytest.raises(ValueError, match="integral coordinate"):
        radius_join_grid(fdf, fdf, left_id="lid", right_id="lid", radius=2)
    idf = spark.createDataFrame([(1, 0, 0)], "lid long, x int, y int")
    assert (
        radius_join_grid(idf, idf, left_id="lid", right_id="lid", radius=2).count()
        == 1
    )


def test_ngram_jaccard_prefix_filter_equals_default(spark):
    """r08 (VERDICT r07 #5): the PPJoin prefix-filtered plan returns
    bit-identical pairs to the full-token-join plan — including on a
    skew-heavy corpus where one boilerplate shingle appears in every doc
    (the case the prefix filter exists for) and docs below/above the
    length-ratio window."""
    from tibame_project_spark.operators.dedup import ngram_jaccard_exact_pairs

    boiler = "terms of service apply to all "
    rows = [
        (1, boiler + "alpha beta gamma delta epsilon zeta"),
        (2, boiler + "alpha beta gamma delta epsilon eta"),   # near-dup of 1
        (3, boiler + "completely different tail words here now"),
        (4, "short doc"),                                     # tiny: len-pruned
        (5, boiler + "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
        (6, " ".join(f"w{i}" for i in range(60))),            # long, unrelated
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for t in (0.3, 0.5, 0.8):
        base = {
            (r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_exact_pairs(
                df, "text", "doc_id", n=3, threshold=t
            ).collect()
        }
        pp = {
            (r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_exact_pairs(
                df, "text", "doc_id", n=3, threshold=t, prefix_filter=True
            ).collect()
        }
        assert pp == base, f"threshold {t}: {pp ^ base}"
    assert (1, 5) in {(a, b) for a, b, _ in base}  # sanity: dup pair found
