"""Physical-plan assertions: lock in the scale properties the engine is
designed around — dims broadcast, predicates and projections reach the
parquet scan, hot paths stay in whole-stage codegen, salting matches the
direct aggregate. A regression here is a 100 TB performance bug even when
every correctness test stays green."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entry
from tests.conftest import SF_DIR
from tibame_project_spark.partitioning import salted_count_sum


def _plan(df, execute: bool = False) -> str:
    if execute:
        # AQE finalizes the physical plan (and its codegen stages) only on
        # execution; collect() first, then read the final plan
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_mart_star_join_broadcasts_dims(spark):
    plan = _plan(entry.q_mart_star_trends(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2  # both dims broadcast
    assert "SortMergeJoin" not in plan          # fact never shuffles to join


def test_pricing_summary_prunes_and_codegens(spark):
    plan = _plan(entry.q_pricing_summary(spark, SF_DIR), execute=True)
    # projection pushdown: referenced columns only (string is truncated by
    # Spark, so assert pruning via the columns that must be ABSENT)
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_quantity" in read and "l_extendedprice" in read
    assert "l_orderkey" not in read and "l_shipdate" not in read and "l_tax" not in read
    # whole-stage codegen spans appear as "*(n)" operator prefixes
    assert "*(1)" in plan
    # partial aggregation before the shuffle (map-side combine)
    assert "partial_sum" in plan and plan.index("HashAggregate") < plan.index("Exchange")


def test_filter_pushdown_reaches_scan(spark):
    df = entry.q_cosine_topk(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(vec_id)" in plan or "GreaterThanOrEqual(vec_id" in plan


def test_anti_join_is_join_not_subquery(spark):
    plan = _plan(entry.q_customers_without_orders(spark, SF_DIR))
    assert "LeftAnti" in plan


def test_ngram_jaccard_stays_in_codegen(spark):
    """The near-dup pair path (explode → join → agg) must be codegen —
    no interpreted array intersections in the per-pair hot loop."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from tibame_project_spark.operators.dedup import ngram_jaccard_exact_pairs

    plan = _plan(ngram_jaccard_exact_pairs(docs, "text", "doc_id"), execute=True)
    assert "array_intersect" not in plan
    assert "*(1)" in plan


def test_salted_agg_matches_direct(spark):
    # heavily skewed: one hot key with 10k rows, 10 cold keys
    rows = [("hot", float(i % 7)) for i in range(10000)] + [
        (f"cold{i}", 1.0) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "k string, v double").withColumn(
        "uid", F.monotonically_increasing_id()
    )
    got = {
        (r.k, r.n, r.sum_v)
        for r in salted_count_sum(
            df, ["k"], value_col="v", salt_from="uid", buckets=16
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


def test_salted_agg_plan_shape(spark):
    """The salted rollup must actually plan two aggregation phases — the
    first keyed on (keys, __salt) so a hot key fans out over reducers — not
    collapse back into a single direct groupBy under optimization."""
    rows = [("hot", 1.0)] * 100 + [("cold", 2.0)]
    df = spark.createDataFrame(rows, "k string, v double").withColumn(
        "uid", F.monotonically_increasing_id()
    )
    plan = _plan(
        salted_count_sum(df, ["k"], value_col="v", salt_from="uid", buckets=8)
    )
    assert "__salt" in plan  # phase-1 grouping key survives to the physical plan
    # two logical phases x (partial, final) = 4 hash aggregates
    assert plan.count("HashAggregate") >= 4


def test_frame_sample_plans_metadata_only(spark):
    """sample_frames must stay a narrow metadata explode: one scan reading
    only (doc_id, n_chars) — never text — and zero shuffles. (The former
    frame_sample registry key retired in r09 — slot given to ivm_mart —
    so the shape is rebuilt here verbatim; its correctness twin is
    multimodal_meta.)"""
    import pyspark.sql.functions as F

    from tibame_project_spark.catalog import load
    from tibame_project_spark.sources.multimodal import sample_frames

    docs = load(spark, SF_DIR, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("kind"),
        F.struct(
            (F.col("n_chars") * 10).cast("long").alias("duration_ms")
        ).alias("meta"),
    )
    out = sample_frames(media, every_ms=1000).select(
        "media_id", "frame_idx", "frame_ts_ms",
        F.col("meta.duration_ms").alias("duration_ms"),
    )
    plan = _plan(out)
    assert plan.count("FileScan") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "text" not in plan.split("ReadSchema")[-1][:200]


def test_attribution_pushes_event_type_to_scan(spark):
    """The click/purchase predicates must reach both parquet scans —
    at 100 TB the interval join's input is the filtered slivers, not the
    full event stream."""
    plan = _plan(entry.q_attribution(spark, SF_DIR))
    assert plan.count("PushedFilters: [") >= 2
    assert "EqualTo(event_type,click)" in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime row-group pruning for selective fact-to-dim joins: Spark's
    InjectRuntimeFilter builds a bloom filter from the filtered dim side
    and applies it on the fact side BELOW the shuffle, so at 100 TB a
    selective dim predicate prunes fact rows at the scan instead of
    shuffling the full fact table into the join. The default application
    thresholds (10 GB scan) are cluster-sized, so the test pins the knobs
    to local scale — the assertion is that the rewrite itself fires."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    knobs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # keep the join a shuffle join so the bloom filter has a shuffle to
        # prune below (a broadcast join gets DPP-style pruning instead)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in knobs}
    try:
        for k, v in knobs.items():
            spark.conf.set(k, v)
        sel = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey", "o_orderdate"
        )
        joined = lineitem.join(sel, lineitem.l_orderkey == sel.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_orderdate"
        )
        plan = _plan(joined)
        assert "bloom_filter" in plan or "BloomFilter" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partition_pruning_on_day_partitioned_write(spark, tmp_path):
    """The reference's PARTITION BY published_at tables must prune: a filter
    on the partition column becomes a PartitionFilter (no full scan)."""
    path = str(tmp_path / "ods")
    df = spark.createDataFrame(
        [(i, f"2024-01-{(i % 3) + 1:02d}") for i in range(30)], ["id", "published_at"]
    )
    df.write.partitionBy("published_at").parquet(path)
    back = spark.read.parquet(path).filter(F.col("published_at") == "2024-01-02")
    plan = _plan(back)
    assert "PartitionFilters: [isnotnull(published_at" in plan
    # only one of three partitions is read
    assert back.count() == 10


def test_bucketed_tables_join_without_shuffle(spark):
    """Bucketing co-locates join keys at write time: joining two tables
    bucketed the same way plans zero Exchange — at 100 TB this removes the
    dominant cost of repeated fact-to-fact joins."""
    from tibame_project_spark.catalog import ensure_layers
    from tibame_project_spark.sources.writers import write_bucketed_table

    ensure_layers(spark)
    a = spark.range(0, 1000).withColumn("v", F.col("id") % 7)
    b = spark.range(0, 1000).withColumn("w", F.col("id") % 11)
    spark.sql("DROP TABLE IF EXISTS ods.bkt_a")
    spark.sql("DROP TABLE IF EXISTS ods.bkt_b")
    write_bucketed_table(a, "ods.bkt_a", bucket_by="id", num_buckets=8)
    write_bucketed_table(b, "ods.bkt_b", bucket_by="id", num_buckets=8)
    # force the (bucketed) sort-merge path: at 100 TB neither fact side is
    # broadcastable, which is exactly the case bucketing exists for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("ods.bkt_a").join(spark.table("ods.bkt_b"), "id")
        plan = _plan(joined)
        assert "Exchange hashpartitioning" not in plan  # no shuffle at all
        assert "SortMergeJoin" in plan
        assert joined.count() == 1000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_chunk_text_is_narrow(spark):
    """Chunking must be a pure per-row explode — zero shuffles."""
    from tibame_project_spark.functions.textstats import chunk_text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(chunk_text(docs, "text", "doc_id", max_tokens=16))
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_gopher_metrics_is_narrow(spark):
    """The quality battery is scan-side work: no shuffle anywhere."""
    from tibame_project_spark.functions.textstats import gopher_metrics

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(gopher_metrics(docs, "text", ["doc_id"]))
    assert "Exchange" not in plan


def test_top_terms_partial_agg_before_exchange(spark):
    """Term counting must combine map-side before the (doc, token) shuffle."""
    from tibame_project_spark.functions.textstats import top_terms

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(top_terms(docs, "text", "doc_id"))
    assert "partial_count" in plan
    # per-doc top-k is also reduced map-side before its shuffle
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_kmeans_broadcasts_centroids(spark):
    """Assignment must broadcast the (tiny) centroid side — the item side
    never shuffles for assignment, only the (cell, dim) partials do."""
    from tibame_project_spark.operators.similarity import kmeans_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # execute so AQE finalizes (converts the tiny k-row metadata join to
    # broadcast); iteration internals are materialized by localCheckpoint
    # and their decimal-partial means are covered by the ivf_train oracle
    plan = _plan(kmeans_centroids(emb, 4, iters=1), execute=True)
    # the data-sized side (items × centroids assignment) must be a
    # broadcast, never a shuffle of the items; the k-row centroid↔size
    # metadata join at the end is free either way and not asserted
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_semantic_dedup_broadcasts_anchors_joins_on_cell(spark):
    """SemDeDup's scale contract: anchor assignment broadcasts the centroid
    side (items never shuffle to be assigned), and the duplicate search is
    an equi-join on the cell id — never an unbounded cartesian of items."""
    plan = _plan(entry.q_semantic_dedup(spark, SF_DIR), execute=True)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    # the within-cell pair join must key on the cell (hash or sort-merge on
    # cell is fine; what must NOT happen is a CartesianProduct of items)
    assert "CartesianProduct" not in plan


def test_pack_sequences_windows_by_bucket_not_globally(spark):
    """Packing must parallelize: the cumsum window partitions by bucket, so
    the sort is within hash partitions — a global (empty-key) window would
    single-partition the whole corpus at 100 TB."""
    plan = _plan(entry.q_pack_sequences(spark, SF_DIR))
    assert "partitionBy" not in plan  # sanity: no API leak in plan text
    assert "Window" in plan
    # the exchange feeding the window is hashpartitioning on bucket, not
    # SinglePartition
    win_idx = plan.index("Window")
    exch = plan[win_idx:].split("Exchange")[1][:120] if "Exchange" in plan[win_idx:] else plan.split("Exchange")[1][:120]
    assert "SinglePartition" not in exch


def test_scd2_single_shuffle_on_key(spark):
    """Both window passes and the change-filter share one key partitioning:
    exactly one exchange on o_custkey."""
    plan = _plan(entry.q_scd2_priority(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(o_custkey") == 1
    assert "SinglePartition" not in plan


def test_domain_mix_broadcasts_rates_and_keeps_filter_mapside(spark):
    """The per-domain rate relation (|domains| rows) must broadcast; the
    selection itself is a filter, never a shuffle of the corpus."""
    plan = _plan(entry.q_domain_mix(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_alpha_mix_broadcasts_rates_and_keeps_filter_mapside(spark):
    """Temperature resampling has the same shape contract as domain_mix:
    the tiny derived-rate relation broadcasts, the corpus itself is only
    scanned and filtered — never shuffled."""
    plan = _plan(entry.q_alpha_mix(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_diverse_topk_broadcasts_queries(spark):
    """The query batch broadcasts (BroadcastNestedLoopJoin: one pass over
    the items, no item-side join shuffle); the only exchanges are the two
    ranking windows, the first on the finer (query, label) key."""
    plan = _plan(entry.q_diverse_topk(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    first_window = plan.index("hashpartitioning(query_id")
    assert "label" in plan[first_window:first_window + 120] or \
        plan.count("hashpartitioning(query_id") >= 2


def test_corpus_shuffle_no_global_sort(spark):
    """Global enumeration must not round-trip the table through a single
    reducer: no singlepartition exchange on the corpus relation — offsets
    broadcast back, positions assigned in per-bucket windows."""
    plan = _plan(entry.q_corpus_shuffle(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan  # offsets join, not SMJ
    assert "SortMergeJoin" not in plan
    # the ONLY SinglePartition exchange allowed is the tiny |buckets|-row
    # offsets cumsum; the corpus window partitions by bucket
    assert "hashpartitioning(__bkt" in plan


def test_c4_filter_single_reassembly_shuffle(spark):
    """Line filtering is per-row; the only exchange is the doc-id
    reassembly groupBy (partial_count runs map-side before it)."""
    plan = _plan(entry.q_c4_filter(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_lm_score_vocab_join_not_pinned_to_broadcast(spark):
    """At toy scale Catalyst broadcasts the (tiny) vocabulary — the right
    call. What must hold for web-scale vocabularies is that nothing PINS
    the join to broadcast: with auto-broadcast off, the plan degrades to a
    co-partitioned shuffle join on token, and the vocab side still
    partial-aggregates before its exchange."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(entry.q_lm_score(spark, SF_DIR))
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan
        assert "partial_count" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


def test_gap_fill_single_exchange(spark):
    """gap_fill packs observations into a per-key map inside the bounds
    aggregate and explodes the calendar from that same row, so the
    forward-fill window reuses the aggregation's hash(key) partitioning:
    exactly one exchange for rollup + spine + fill."""
    from tibame_project_spark.operators.analytics import gap_fill

    daily = spark.read.parquet(f"{SF_DIR}/orders.parquet").selectExpr(
        "o_custkey AS k", "to_date(o_orderdate) AS day", "o_totalprice AS v"
    )  # unique per (k, day) not required for the plan-shape assertion
    plan = _plan(gap_fill(daily, ["k"], "day", ["v"]))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_funnel_stage_cascade_shares_one_exchange(spark):
    """The k-stage min-timestamp cascade must not re-shuffle per stage:
    one hashpartitioning(user_id) exchange feeds every Window, plus the
    single-partition exchange for the final global count."""
    plan = _plan(entry.q_funnel(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_histogram_no_min_max_prepass(spark):
    """Literal bucket edges: one scan, one aggregation — no second scan
    for min/max and no join. (Operator-level since r08: the `histogram`
    registry key was retired for `curation_pass`; percentiles'
    width_bucket oracle subsumes the bucketing surface.)"""
    from tibame_project_spark.operators.analytics import histogram_fixed

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    df = histogram_fixed(
        orders, "o_totalprice", 0.0, 600000.0, 24, ["o_orderpriority"]
    )
    final = _plan(df, execute=True).split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1
    assert "partial_count" in final


def test_pearson_stats_single_pass(spark):
    """All five sufficient statistics accumulate in ONE aggregation pass
    (decimal partials, map-side combine before the exchange)."""
    plan = _plan(entry.q_pearson_stats(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan


def test_curriculum_tier_major_no_global_sort(spark):
    """Curriculum ordering keeps corpus_shuffle's discipline with the tier
    as the major key: positions come from per-(tier, bucket) windows plus a
    broadcast offsets join — never a single-reducer sort of the docs."""
    plan = _plan(entry.q_curriculum(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan  # offsets join
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(__t" in plan  # windows keyed by (tier, bucket)


def test_sparse_topk_candidates_via_token_join(spark):
    """The inverted index IS the join: candidate pairs come from a
    broadcast hash join on the token, never a cross product, and the dot
    aggregate reuses the doc-key partitioning of the Σtf² window, so no
    exchange sits under it. Five shuffles in all, each named by its key:
    query-postings count, doc-count scalar, token windows (df + the
    representative posting), doc-key window, per-query window; plus the
    two broadcasts (doc count, query postings)."""
    import re

    plan = _plan(entry.q_sparse_topk(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # (a BroadcastNestedLoopJoin IS present — the 1-row doc-count scalar of
    # the df cap; the corpus-sized relations all join hash-partitioned)
    assert re.search(r"BroadcastHashJoin \[token#\d+\], \[token#\d+\], Inner", plan)
    assert "SortMergeJoin" not in plan
    lines = plan.splitlines()
    dot_aggs = [
        i for i, line in enumerate(lines)
        if re.search(r"HashAggregate\(keys=\[__qid#\d+L?, __did#", line)
    ]
    assert len(dot_aggs) == 2  # final over partial
    for i in dot_aggs:
        assert "Exchange" not in lines[i + 1], lines[i + 1]
    shuffles = sorted(
        re.sub(r", \d+\)$", ")", re.sub(r"#\d+L?", "", p))
        for p in re.findall(r"(?<!Broadcast)Exchange (\w+(?:\([^)]*\))?)", plan)
    )
    assert shuffles == [
        "SinglePartition",
        "hashpartitioning(__did)",
        "hashpartitioning(__qid)",
        "hashpartitioning(query_id, token)",
        "hashpartitioning(token)",
    ], shuffles
    assert plan.count("BroadcastExchange") == 2


def test_warm_sparse_topk_runs_at_most_eight_jobs(spark, spark_jobs):
    """A warm ``sparse_topk`` (postings checkpoint built, documents schema
    memoized) runs ≤ 8 Spark jobs: the query-postings count, the doc-count
    aggregate and its broadcast, the query-postings broadcast, then one per
    corpus-side stage (postings → token exchange, token windows → doc-key
    exchange, dot aggregate → query exchange, query window → sink). The
    plan with a (query, doc) dot exchange, norm aggregates joined back and
    a schema-inference job at every load ran 15."""

    def run():
        entry.q_sparse_topk(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()

    run()
    with spark_jobs() as jobs:
        run()
    assert jobs() <= 8, jobs()


def test_pagerank_rank_join_broadcasts_not_cartesian(spark):
    """Every PageRank round is rank ⋈ edges then a dst-key aggregate; the
    rank relation (one row per node) must reach the join as a broadcast or
    co-partitioned hash join, never a nested loop, and the only cross
    product allowed is the 1-row node-count scalar."""
    plan = _plan(entry.q_pagerank(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_no_cartesian_or_row_python_anywhere(spark):
    """Repo-wide plan hygiene across EVERY registered query: no
    CartesianProduct (the 100 TB scale-killer; even fuzzy_match's guarded
    baseline plans a broadcast nested loop, never a cartesian shuffle) and
    no BatchEvalPython (row-at-a-time Python UDF — the only sanctioned
    Python surfaces are Arrow-batched: ArrowEvalPython / MapInPandas)."""
    offenders = {}
    for name, fn in entry.queries().items():
        plan = _plan(fn(spark, SF_DIR))
        bad = [
            marker
            for marker in ("CartesianProduct", "BatchEvalPython")
            if marker in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"plan hygiene violations: {offenders}"


def test_float_queries_invariant_to_shuffle_partitioning(spark):
    """SCALE.md's determinism claim, executed: the float-bearing queries
    (decimal sufficient stats, corpus LM scores, iterative k-means) return
    bit-identical rows at 2 and at 32 shuffle partitions — a Welford-style
    double stream would not."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for n in ("2", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            spark.catalog.clearCache()
            results[n] = {
                name: {tuple(r) for r in entry.queries()[name](spark, SF_DIR).collect()}
                for name in ("pearson_stats", "lm_score", "ivf_train", "rolling_avg")
            }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    for name in results["2"]:
        assert results["2"][name] == results["32"][name], name


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's skew-join split is the runtime half of the skew story
    (salted_count_sum is the write-time half): with a 98%-hot join key,
    the finalized plan must mark the sort-merge join skew=true and read
    the hot partition as split AQEShuffleRead chunks — no single reducer
    owns the hot key. Thresholds are pinned to local scale; the assertion
    is that the rewrite fires, same as the bloom-filter test."""
    knobs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in knobs}
    try:
        for k, v in knobs.items():
            spark.conf.set(k, v)
        left = (
            spark.range(200000)
            .withColumn(
                "k",
                F.when(F.col("id") % 100 < 98, F.lit("hot")).otherwise(
                    (F.col("id") % 7).cast("string")
                ),
            )
            .withColumn("pay", F.md5(F.col("id").cast("string")))
        )
        right = spark.createDataFrame(
            [("hot", 1)] + [(str(i), i) for i in range(7)], "k string, v int"
        )
        plan = _plan(left.join(right, "k"), execute=True)
        assert "skew=true" in plan
        assert "skewed" in plan  # AQEShuffleRead marks the split read
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bloom_prune_probes_without_shuffling_probed_side(spark):
    """The Bloom probe's whole value is pre-shuffle pruning: every bitmap
    lookup must plan as a BroadcastHashJoin and the probed side must reach
    the final semi-join's exchange already filtered — if any probe join
    plans as SortMergeJoin the probed side shuffled and the operator is a
    100 TB regression even though results stay correct."""
    from tibame_project_spark.operators.joins import bloom_filter_table, bloom_prune

    big = spark.range(0, 100_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"), F.col("id").alias("v")
    )
    small = spark.range(0, 100_000, 1000).select(
        F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    bitmap = bloom_filter_table(small, "key", num_bits=1 << 14, num_hashes=5)
    plan = _plan(bloom_prune(big, "key", bitmap, num_bits=1 << 14, num_hashes=5))
    assert plan.count("BroadcastHashJoin") == 5  # one per hash seed
    assert "SortMergeJoin" not in plan
    # the only exchanges are the bitmap build's tiny word aggregation and
    # the broadcast itself — the probed side never appears under one
    assert "ShuffledHashJoin" not in plan


def test_bucketed_merge_upsert_no_exchange_with_plain_keys(spark):
    """merge_upsert(null_safe_keys=False) over two tables bucketed on the
    key must plan zero hash-partitioning exchanges (the documented 100 TB
    nightly-upsert path); the default null-safe keys extract as
    coalesce/isnull pairs, which raw-key bucketing cannot satisfy — so the
    flag is what buys the exchange-free plan."""
    from tibame_project_spark.catalog import ensure_layers
    from tibame_project_spark.operators.corrections import merge_upsert
    from tibame_project_spark.sources.writers import write_bucketed_table

    ensure_layers(spark)
    t = spark.range(0, 1000).withColumn("v", F.col("id") % 7)
    src = spark.range(500, 1500).withColumn("v", F.col("id") % 11)
    spark.sql("DROP TABLE IF EXISTS ods.mrg_t")
    spark.sql("DROP TABLE IF EXISTS ods.mrg_s")
    write_bucketed_table(t, "ods.mrg_t", bucket_by="id", num_buckets=8)
    write_bucketed_table(src, "ods.mrg_s", bucket_by="id", num_buckets=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        merged = merge_upsert(
            spark.table("ods.mrg_t"),
            spark.table("ods.mrg_s"),
            "id",
            null_safe_keys=False,
        )
        plan = _plan(merged)
        assert "Exchange hashpartitioning" not in plan
        assert merged.count() == 1500  # 0..1499, overlap updated not duplicated
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_warehouse_refresh_join_is_exchange_free(spark):
    """plans/warehouse end-to-end: the nightly refresh's MERGE join over the
    bucketed target + bucketed staged batch plans ZERO hash-partitioning
    exchanges (the synthetic test_bucketed_merge_upsert_no_exchange_with_
    plain_keys assertion graduated to a real pipeline), the atomic-rename
    publish lands the right rows, and the published table keeps its
    bucketed layout."""
    from tibame_project_spark.catalog import load
    from tibame_project_spark.plans.warehouse import (
        bootstrap_warehouse,
        merge_plan,
        refresh_warehouse,
        stage_upsert_batch,
    )

    customer = load(spark, SF_DIR, "customer")
    bootstrap_warehouse(spark, customer, table="fact.wh_cust_t", buckets=4)
    batch = (
        customer.filter(F.col("c_custkey") % 5 == 0)
        .withColumn("c_mktsegment", F.lit("REFRESHED"))
        .withColumn("is_deleted", F.col("c_custkey") % 25 == 0)
    )
    stage_upsert_batch(spark, batch, table="ods.wh_cust_b", buckets=4)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(merge_plan(spark, target="fact.wh_cust_t", batch="ods.wh_cust_b"))
        assert "Exchange hashpartitioning" not in plan
        out = refresh_warehouse(
            spark, target="fact.wh_cust_t", batch="ods.wh_cust_b", buckets=4
        )
        n_cust = customer.count()
        n_del = customer.filter(F.col("c_custkey") % 25 == 0).count()
        assert out.count() == n_cust - n_del
        assert (
            out.filter(F.col("c_mktsegment") == "REFRESHED").count()
            == customer.filter(F.col("c_custkey") % 5 == 0).count() - n_del
        )
        # published table kept its bucketed layout → NEXT refresh is also
        # exchange-free (the amortization claim, not just the first join)
        stage_upsert_batch(spark, batch, table="ods.wh_cust_b", buckets=4)
        plan2 = _plan(merge_plan(spark, target="fact.wh_cust_t", batch="ods.wh_cust_b"))
        assert "Exchange hashpartitioning" not in plan2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS fact.wh_cust_t")
        spark.sql("DROP TABLE IF EXISTS ods.wh_cust_b")


def test_mart_delta_fold_shuffles_feed_not_table(spark):
    """The IVM fold's physical plan: the signed delta aggregates with a
    map-side partial BEFORE its exchange (feed-sized shuffle), and the
    whole maintain plan carries no join back to the base relation — the
    only inputs are the feed and the standing mart."""
    import pyspark.sql.functions as F

    from tibame_project_spark.operators.corrections import merge_aggregates
    from tibame_project_spark.plans.warehouse import mart_delta_from_feed

    changes = spark.createDataFrame(
        [(1, "insert", None, None, "a", 5)],
        "k long, op string, old_g string, old_v long, new_g string, new_v long",
    )
    mart = spark.createDataFrame([("a", 2, 7)], "g string, n long, total long")
    delta = mart_delta_from_feed(
        changes, ["g"], counts=["n"], sums={"total": "v"}
    )
    folded = merge_aggregates(mart, delta, ["g"], counts=["n"], sums=["total"])
    plan = folded._sc._jvm.PythonSQLUtils.explainString(
        folded._jdf.queryExecution(), "formatted"
    )
    # partial aggregation runs before every exchange (map-side combine)
    assert "partial_sum" in plan
    # no scan or join of any base table: the plan's only leaves are the
    # two in-memory relations (feed + mart)
    assert "Scan parquet" not in plan and "SortMergeJoin" not in plan


def test_ivm_mart_gated_fold_never_rescans_base(spark, tmp_path):
    """The gated ivm_mart shape (__spark_entry__.q_ivm_mart): after the
    bootstrap mart is materialized, the maintenance round's inputs are the
    FEED (only the files the merge commit touched) and the standing mart —
    never a rescan of the base table. Asserted on the actual scan file
    set: every parquet file the fold reads belongs to the commit's
    removed/added file diff, and at least one untouched v0 file exists
    that the fold does not open."""
    import pyspark.sql.functions as F

    from tibame_project_spark.plans.warehouse import maintain_mart_from_feed
    from tibame_project_spark.sources.manifest import (
        manifest_feed_commit,
        manifest_stats,
        merge_manifest_table,
        write_manifest_table,
    )

    base = str(tmp_path / "t")
    state = f"{base}/_cursor.json"
    write_manifest_table(
        spark,
        spark.createDataFrame(
            [(i, ["lo", "hi"][i // 200], i) for i in range(400)],
            "id long, g string, v long",
        ),
        base, stats_cols=["id"], cluster_by="id", n_files=4, keep=10,
    )
    v0_files = {r["path"] for r in manifest_stats(spark, base).collect()}
    kw = dict(state_path=state, group_cols=["g"], counts=["n"],
              sums={"total": "v"})
    mart, head = maintain_mart_from_feed(spark, base, "id", **kw)
    mart = mart.localCheckpoint(eager=True)
    manifest_feed_commit(spark, state, head)

    # batch confined to the top of the keyspace: at most half the v0
    # files are range candidates
    merge_manifest_table(
        spark,
        spark.createDataFrame(
            [(i, "moved", i, False) for i in range(390, 400)],
            "id long, g string, v long, dead boolean",
        ),
        base, "id", delete_col="dead", keep=10,
    )
    man1 = {r["path"] for r in manifest_stats(spark, base).collect()}
    touched = (v0_files - man1) | (man1 - v0_files)  # removed ∪ added
    untouched = v0_files & man1
    assert untouched, "test setup: the merge must carry some v0 files forward"

    mart2, _ = maintain_mart_from_feed(
        spark, base, "id", mart=mart, applied_head=head, **kw
    )
    scanned = {f.split("/")[-1] for f in mart2.inputFiles()}
    touched_names = {p.split("/")[-1] for p in touched}
    untouched_names = {p.split("/")[-1] for p in untouched}
    assert scanned, "the fold must read the feed's touched files"
    assert scanned <= touched_names
    assert not (scanned & untouched_names)
    # and the fold still lands on the exact answer
    got = {tuple(r) for r in mart2.select("g", "n", "total").collect()}
    assert got == {("lo", 200, sum(range(200))),
                   ("hi", 190, sum(range(200, 390))),
                   ("moved", 10, sum(range(390, 400)))}


def test_single_file_merge_rewrite_fuses_to_one_partition(spark, tmp_path, monkeypatch):
    """r15 merge-rewrite fusion: a merge that rewrites ONE small file
    plans its candidate-read → full-outer join → sort → write chain with
    ZERO hash exchanges (both join inputs are single-partition, which
    satisfies the join's required distribution), while a multi-file
    rewrite keeps the range exchange that makes per-file min/max
    disjoint. Locked here because losing the fusion silently re-adds a
    3-stage AQE cascade to every small merge commit."""
    from tibame_project_spark.sources import manifest as M

    plans = []
    orig_wd = M._write_data

    def spy(df, *a, **k):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return orig_wd(df, *a, **k)

    monkeypatch.setattr(M, "_write_data", spy)

    # one-file table → one candidate → fused
    base1 = str(tmp_path / "one")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    M.write_manifest_table(spark, df, base1, stats_cols=["k"], cluster_by="k", n_files=1)
    batch = spark.range(0, 50).select(
        (F.col("id") * 3).alias("k"), F.lit(-1).cast("long").alias("v")
    )
    plans.clear()
    M.merge_manifest_table(spark, batch, base1, "k")
    fused = [p for p in plans if "FullOuter" in p]
    assert fused, "merge write plan not captured"
    assert "Exchange hashpartitioning" not in fused[0]
    assert "Exchange rangepartitioning" not in fused[0]

    # eight-file table, wide batch → many candidates → distributed shape
    base2 = str(tmp_path / "many")
    M.write_manifest_table(spark, df, base2, stats_cols=["k"], cluster_by="k", n_files=8)
    wide = spark.range(0, 1000, 7).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    plans.clear()
    M.merge_manifest_table(spark, wide, base2, "k")
    unfused = [p for p in plans if "FullOuter" in p]
    assert unfused
    # the captured frame is the merge output BEFORE _write_data's range
    # partitioning — multi-file rewrites must keep the distributed join
    # (hash exchanges on both sides), not the single-partition fusion
    assert "Exchange hashpartitioning" in unfused[0]

    # conditional merge on the one-file table: still fused, condition
    # join broadcast
    batch2 = spark.range(0, 50).select(
        (F.col("id") * 3).alias("k"), F.lit(7).cast("long").alias("v")
    )
    plans.clear()
    M.merge_manifest_table(spark, batch2, base1, "k", update_condition="v > t_v")
    fused2 = [p for p in plans if "FullOuter" in p]
    assert fused2
    assert "Exchange hashpartitioning" not in fused2[0]
    assert "BroadcastHashJoin" in fused2[0]
