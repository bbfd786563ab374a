"""Bucketed warehouse refresh — the storage tier wired into a real pipeline.

The reference refreshes its dim/fact layers by full WRITE_TRUNCATE rewrites
plus DML patches (UPDATE/INSERT ``create_dim_attraction_hashtag.py:134-191``,
DELETE ``create_dim_attraction_detail.py:123-199``). This plan is that
nightly refresh re-expressed for 100 TB:

* the standing target is a **bucketed managed table** (clustered on the
  merge key at write time — ``sources.writers.write_bucketed_table``), so
  the refresh's MERGE join plans with ZERO hash-partitioning exchanges:
  the clustering shuffle is paid once at bootstrap and never again;
* the nightly batch is staged bucketed on the same (key, bucket count), so
  BOTH merge sides arrive pre-clustered;
* the refresh applies the batch in ONE pass (``operators.corrections.
  merge_upsert`` with ``null_safe_keys=False`` — the flag that keeps the
  join's distribution requirement satisfiable by raw-key bucketing), writes
  the result to a bucketed stage table, and publishes it with the
  metastore's atomic rename — readers see the old table or the new one,
  never a half-written mix.

Plan-asserted end-to-end in
``tests/test_physical_plans.py::test_warehouse_refresh_join_is_exchange_free``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tibame_project_spark.catalog import drop_table, ensure_layers, rename_table
from tibame_project_spark.operators.corrections import merge_upsert
from tibame_project_spark.sources.writers import write_bucketed_table


def bootstrap_warehouse(
    spark: SparkSession,
    initial: DataFrame,
    *,
    table: str = "fact.wh_customer",
    key: str = "c_custkey",
    buckets: int = 8,
) -> None:
    """Create the standing bucketed target from an initial load. The
    clustering shuffle happens HERE, once; every nightly refresh reuses
    the layout. The key must be non-null (the bucketed merge path uses
    plain equality) — enforce upstream with an expectations rule."""
    ensure_layers(spark)
    write_bucketed_table(initial, table, bucket_by=key, num_buckets=buckets)


def stage_upsert_batch(
    spark: SparkSession,
    batch: DataFrame,
    *,
    table: str = "ods.wh_customer_batch",
    key: str = "c_custkey",
    buckets: int = 8,
) -> None:
    """Land the nightly upsert batch bucketed on the SAME (key, bucket
    count) as the target — the batch is tiny next to the target, so its
    clustering write is cheap, and it buys the exchange-free merge."""
    ensure_layers(spark)
    write_bucketed_table(batch, table, bucket_by=key, num_buckets=buckets)


def refresh_warehouse(
    spark: SparkSession,
    *,
    target: str = "fact.wh_customer",
    batch: str = "ods.wh_customer_batch",
    key: str = "c_custkey",
    delete_col: str | None = "is_deleted",
    buckets: int = 8,
) -> DataFrame:
    """One nightly refresh: MERGE the staged batch into the target in one
    full-outer pass (no exchange on either side — both scans are bucketed
    on ``key``), materialize bucketed into ``<target>_stage``, then publish
    via the metastore's atomic rename.

    Returns the published target DataFrame."""
    merged = merge_upsert(
        spark.table(target),
        spark.table(batch),
        key,
        delete_col=delete_col,
        null_safe_keys=False,
    )
    stage = f"{target}_stage"
    # the stage write executes the merge while the old target is still the
    # readable table; the rename below is the publish point
    drop_table(spark, stage)
    write_bucketed_table(merged, stage, bucket_by=key, num_buckets=buckets)
    drop_table(spark, target)
    rename_table(spark, stage, target)
    return spark.table(target)


def merge_plan(
    spark: SparkSession,
    *,
    target: str = "fact.wh_customer",
    batch: str = "ods.wh_customer_batch",
    key: str = "c_custkey",
    delete_col: str | None = "is_deleted",
) -> DataFrame:
    """The refresh's MERGE relation without the write/publish — what the
    physical-plan test inspects for zero Exchange, and what a dry-run
    validation (row-count expectations on the would-be result) consumes."""
    return merge_upsert(
        spark.table(target),
        spark.table(batch),
        key,
        delete_col=delete_col,
        null_safe_keys=False,
    )


def _sql_literal(v) -> str | None:
    """Render a driver-side bound value as a Spark SQL literal, or None
    when the type has no safe rendering (then the caller skips pruning).
    Strings are quote-escaped the SQL way (doubled single quotes — never
    Python ``repr``, whose quote/escape choices are not SQL); date and
    timestamp values use typed literals so comparison semantics match the
    manifest's min/max column types."""
    import datetime
    import decimal
    import math

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        # inf/NaN have no SQL literal spelling (`nan` would resolve as a
        # column reference) — unprunable, fall back to the semi-join
        return str(v) if math.isfinite(v) else None
    if isinstance(v, (int, decimal.Decimal)):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            return None  # offset rendering is engine-sensitive; skip
        return f"TIMESTAMP'{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(v, datetime.date):
        return f"DATE'{v.isoformat()}'"
    return None


def mart_delta_from_feed(
    changes: DataFrame,
    group_cols: list[str],
    *,
    counts: dict[str, None] | list[str],
    sums: dict[str, str] | None = None,
) -> DataFrame:
    """Signed aggregate delta of a ``snapshot_diff``-schema change feed
    (``sources.manifest.manifest_feed`` intervals,
    ``sources.manifest.manifest_changes``, ...): every surviving row
    image contributes +1 / +value under its NEW group, every
    disappearing image −1 / −value under its OLD group — so an update
    that MOVES a row between groups debits one and credits the other,
    and the delta folds into a standing mart with
    ``corrections.merge_aggregates`` without ever touching the base
    table. Only fully decomposable measures qualify (counts and sums —
    min/max cannot absorb deletes without re-reading the group; keep
    those in a mart refreshed by touched-group recompute instead).

    ``counts`` names the output count columns (each = signed row count);
    ``sums`` maps output column → source column. Sums inherit the feed's
    column types — feed exact partials (bigint / decimal) for
    gate-grade exactness, the engine's standing aggregation discipline."""
    import pyspark.sql.functions as F

    count_cols = list(counts)
    sum_map = dict(sums or {})

    def side(prefix: str, ops: tuple, sign: int) -> DataFrame:
        return changes.filter(F.col("op").isin(*ops)).select(
            *[F.col(f"{prefix}{g}").alias(g) for g in group_cols],
            *[F.lit(sign).cast("long").alias(c) for c in count_cols],
            *[
                (F.lit(sign) * F.col(f"{prefix}{s}")).alias(out)
                for out, s in sum_map.items()
            ],
        )

    contrib = side("new_", ("insert", "update"), 1).unionByName(
        side("old_", ("update", "delete"), -1)
    )
    return contrib.groupBy(*group_cols).agg(
        *[F.sum(c).alias(c) for c in count_cols],
        *[F.sum(out).alias(out) for out in sum_map],
    )


def maintain_mart_from_feed(
    spark: SparkSession,
    base_path: str,
    key: str | list[str],
    *,
    state_path: str,
    group_cols: list[str],
    counts: list[str],
    sums: dict[str, str] | None = None,
    mart: DataFrame | None = None,
    applied_head: int | None = None,
) -> tuple[DataFrame, int]:
    """One incremental-view-maintenance round over a manifest table: pull
    the next :func:`sources.manifest.manifest_feed` interval, turn it into
    a signed delta (:func:`mart_delta_from_feed`), fold it into the
    standing ``mart`` (bootstrap: the first pull IS the initial aggregate,
    since a fresh cursor yields the full table as inserts), and drop
    groups whose row count reached zero. Cost per round tracks the feed +
    the mart — the base table is never re-read, which is the only mart
    refresh shape that survives 100 TB facts (the full-recompute twin is
    the reference's nightly WRITE_TRUNCATE mart).

    Returns ``(mart', head)``. The signed-delta fold is NOT a fixpoint —
    replaying an interval double-counts — so the cursor protocol alone
    (at-least-once) is not enough. The consumer contract here is
    exactly-once-EFFECT: persist the mart STAMPED with ``head`` in one
    atomic write (a ``sources.manifest.write_manifest_table`` full
    refresh of the mart with ``txn=(app_id, head)``, read back with
    ``last_txn_version``, or any transactional sink), then advance the
    cursor with ``manifest_feed_commit(spark, state_path, head)``. On
    restart pass the stamp back as ``applied_head``: it overrides the
    cursor, so a crash between the mart persist and the cursor commit
    skips the already-folded interval instead of folding it twice.
    (:func:`recompute_mart_groups_from_feed` is the replay-safe-by-
    construction twin — touched-group recompute is a fixpoint — at the
    cost of re-reading touched groups from the base table.) ``counts``
    must name at least one column (it is the liveness signal that lets
    emptied groups fall out of the mart)."""
    import pyspark.sql.functions as F

    from tibame_project_spark.operators.corrections import merge_aggregates
    from tibame_project_spark.sources.manifest import manifest_feed

    if not counts:
        raise ValueError("counts must name at least one output column")
    changes, head = manifest_feed(
        spark, base_path, key, state_path=state_path,
        from_version=applied_head,
    )
    delta = mart_delta_from_feed(
        changes, group_cols, counts=counts, sums=sums
    )
    merged = (
        delta
        if mart is None
        else merge_aggregates(
            mart, delta, group_cols, counts=counts, sums=list(sums or {})
        )
    )
    return merged.filter(F.col(counts[0]) > 0), head


def recompute_mart_groups_from_feed(
    spark: SparkSession,
    base_path: str,
    key: str | list[str],
    *,
    state_path: str,
    group_cols: list[str],
    agg,
    mart: DataFrame | None = None,
    prune_col: str | None = None,
) -> tuple[DataFrame, int]:
    """The non-decomposable-measure twin of :func:`maintain_mart_from_feed`:
    min/max/distinct-style aggregates cannot absorb deletes from a signed
    delta, so each round re-aggregates ONLY the groups the feed touched —
    every group a changed row left or entered (old AND new images, so a
    group-moving update refreshes both sides) — and carries every other
    mart row forward untouched. ``agg`` maps base-table rows to one row
    per ``group_cols`` value (it sees only touched groups' rows).

    Cost per round: the feed + a base read restricted to touched groups —
    a semi-join always, PLUS file skipping when ``prune_col`` names a
    group column that is also a declared stats column (the touched
    groups' bounds become a ``prune=`` range, so a group-clustered table
    reads only the files holding refreshed groups; numeric, string, date,
    and timestamp columns — other bound types fall back to no pruning,
    never to a malformed predicate). Same cursor contract as every feed
    consumer (and unlike the signed-delta twin, the touched-group
    recompute IS a replay fixpoint): persist the mart, then
    ``manifest_feed_commit(spark, state_path, head)``."""
    import pyspark.sql.functions as F

    from tibame_project_spark.sources.manifest import (
        manifest_feed,
        read_manifest_table,
    )

    changes, head = manifest_feed(spark, base_path, key, state_path=state_path)
    touched = (
        changes.select(
            *[F.col(f"new_{g}").alias(g) for g in group_cols]
        )
        .where(F.col("op") != "delete")
        .unionByName(
            changes.select(
                *[F.col(f"old_{g}").alias(g) for g in group_cols]
            ).where(F.col("op") != "insert")
        )
        .distinct()
        .localCheckpoint(eager=True)  # feed-sized; reused three times below
    )
    prune = None
    if prune_col is not None:
        if prune_col not in group_cols:
            raise ValueError(
                f"prune_col {prune_col!r} must be one of group_cols "
                f"({group_cols}) — pruning keys files by the refreshed groups"
            )
        b = touched.agg(
            F.min(prune_col).alias("lo"), F.max(prune_col).alias("hi")
        ).first()
        if b["lo"] is not None:
            lo = _sql_literal(b["lo"])
            hi = _sql_literal(b["hi"])
            # unsupported bound type (struct, binary, ...): skip pruning —
            # the semi-join below still restricts rows; a malformed
            # predicate must never reach F.expr
            if lo is not None and hi is not None:
                prune = (
                    f"max_{prune_col} >= {lo} "
                    f"AND min_{prune_col} <= {hi}"
                )
    base = read_manifest_table(spark, base_path, version=head, prune=prune)
    fresh = agg(base.join(F.broadcast(touched), group_cols, "leftsemi"))
    if mart is None:
        return fresh, head
    carried = mart.join(F.broadcast(touched), group_cols, "left_anti")
    return carried.unionByName(fresh), head
