"""Iterative graph operators beyond connected components (which lives with
the dedup family in ``operators/dedup.py`` — transitive duplicate clusters
are its use case here).

PageRank is the representative "iterative join-aggregate" workload: each
round is rank ⋈ edges on the source key followed by a groupBy on the
destination key. Scale shape per round: one hash join (ranks are one row
per node — orders of magnitude smaller than edges; edges are pre-joined
with out-degrees ONCE and persisted so the per-round join touches a
ready-made (src, dst, out_degree) relation), one aggregation with map-side
partial sums, and a ``localCheckpoint`` to truncate lineage — without it
the plan doubles per round and the job eventually dies in the optimizer,
exactly like naive iterative Spark always does. Skewed in-degree (a hub
node) is AQE's skew-join case; the aggregation side is already salt-free
safe because integer partial sums are associative.

Determinism: ranks are BIGINTs in units of 1/``scale`` and every update is
integer arithmetic (``div`` truncation) — no floating-point accumulation
anywhere, so results are bit-identical under any partitioning, retry, or
engine (the DuckDB oracle unrolls the same integer recurrence). The same
discipline as the decimal k-means trainer (`similarity.kmeans_centroids`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_integer(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    dangling: str = "redistribute",
) -> DataFrame:
    """Fixed-iteration PageRank with integer-scaled exact arithmetic.

    ``edges`` is a directed edge list (duplicates allowed — they are
    dropped). Returns (node, rank) with rank a BIGINT in units of
    1/``scale``:

        r_0(v)   = scale div N
        r_k+1(v) = (scale · (den−num)) div (den · N)
                   + (num · (Σ_{u→v} r_k(u) div deg(u) + D_k div N)) div den

    where ``D_k`` is the round's total rank held by DANGLING nodes (no
    out-edges) — redistributed uniformly, the standard sink treatment
    (Page et al. 1999 §2.7), so rank mass is conserved up to truncation.
    A web-scale crawl graph always has sinks; silently leaking their mass
    (the pre-r08 precondition) skews every rank downward.

    ``dangling`` picks the contract:

    * ``"redistribute"`` (default): one cheap existence probe up front;
      a sink-free graph (e.g. symmetrized) runs the exact pre-r08 plan —
      zero per-round overhead, bit-identical results — while a graph with
      sinks adds one node-sized semi-join + 1-row aggregate per round
      (broadcast into the update, never collected).
    * ``"raise"``: validate-and-fail on the first dangling node — for
      callers whose oracle replays the sink-free recurrence.
    * ``"assume_none"``: skip the probe entirely (caller-asserted
      sink-free input; the zero-job fast path).

    The truncating ``div`` makes the recurrence exactly reproducible in
    any engine with 64-bit integers; the mass lost to truncation is
    < 4·N·iterations/scale — irrelevant for ranking, decisive for parity.

    Caching contract (same as ``similarity.semantic_dedup``): the edge,
    node and node-count relations are ``persist()``-ed because every round
    references them; the returned ranks still depend on them, so they live
    until ``spark.catalog.clearCache()`` or session end. At 100 TB the
    equivalent move is materializing the degree-annotated edge table once
    and reading it per round.
    """
    if dangling not in ("redistribute", "raise", "assume_none"):
        raise ValueError(
            f"dangling must be 'redistribute', 'raise' or 'assume_none', "
            f"got {dangling!r}"
        )
    e = (
        edges.select(
            F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
        )
        .distinct()
    )
    deg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__od"))
    # one row per edge with its source out-degree, reused every round
    ed = e.join(deg, "__s").persist()
    # per-round invariants: the node list joins every round's contributions
    # and the node count enters every teleport term — cache both once
    # instead of re-shuffling the (much larger) edge relation per round
    if dangling == "assume_none":
        has_dangling = False
        nodes = ed.select(F.col("__s").alias("node")).distinct().persist()
    else:
        # one role-tagging aggregation finds every node AND whether it has
        # out-edges — a single shuffle over 2|E| tag rows, instead of
        # separate dst-distinct + anti-join passes. Derived from the
        # PERSISTED degree-annotated edges, so the probe (which is what
        # first materializes ed) doesn't re-run the upstream edge build.
        roles = (
            ed.select(F.col("__s").alias("node"), F.lit(1).alias("__out"))
            .unionAll(ed.select(F.col("__d").alias("node"), F.lit(0).alias("__out")))
            .groupBy("node")
            .agg(F.max("__out").alias("__out"))
            .persist()
        )
        sinks = roles.where(F.col("__out") == 0).select("node")
        has_dangling = bool(sinks.limit(1).count())
        if has_dangling and dangling == "raise":
            ex = [r["node"] for r in sinks.limit(3).collect()]
            raise ValueError(
                f"graph has dangling nodes (no out-edges), e.g. {ex}; pass "
                "dangling='redistribute' or symmetrize the edge list"
            )
        nodes = roles.select("node")
    n_df = nodes.agg(F.count(F.lit(1)).alias("__n")).persist()
    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", F.expr(f"{scale} div __n").alias("rank")
    )
    teleport_num = scale * (damping_den - damping_num)
    for _ in range(iterations):
        contrib = (
            ed.join(ranks, ed["__s"] == ranks["node"])
            .select(F.col("__d").alias("node"), F.expr("rank div __od").alias("__c"))
            .groupBy("node")
            .agg(F.sum("__c").alias("__csum"))
        )
        upd = nodes.join(contrib, "node", "left").crossJoin(F.broadcast(n_df))
        if has_dangling:
            # the round's dangling mass as a 1-row relation, broadcast into
            # the update — stays lazy, nothing collected to the driver
            dmass = (
                ranks.join(sinks, "node", "leftsemi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("__dm"))
            )
            pooled = "(coalesce(__csum, 0) + (__dm div __n))"
            upd = upd.crossJoin(F.broadcast(dmass))
        else:
            pooled = "coalesce(__csum, 0)"
        ranks = (
            upd.select(
                "node",
                F.expr(
                    f"{teleport_num} div ({damping_den} * __n)"
                    f" + ({damping_num} * {pooled}) div {damping_den}"
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks
