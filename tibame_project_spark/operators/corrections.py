"""DML-style corrections as data (SURVEY.md §2.10).

The reference patches its dims with hand-written UPDATE / DELETE / INSERT
batches run against BigQuery (13 UPDATEs
``create_dim_attraction_hashtag.py:134-186``; 19 DELETEs
``create_dim_attraction_detail.py:123-199``; INSERT-NOT-IN ``:187-190``).
A pure-batch engine reproduces those declaratively: corrections are
DataFrames, applied with joins, and the result overwrites the table — no
mutable storage required (Delta Lake could swap in later without changing
call sites).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_updates(df: DataFrame, updates: DataFrame, key: str | list[str]) -> DataFrame:
    """UPDATE … SET col=… WHERE key=… (M1).

    ``updates`` carries the key column(s) plus the new values for any subset
    of df's columns; non-keyed rows pass through, matched rows take the
    corrected value where it is non-null (coalesce semantics).
    """
    keys = [key] if isinstance(key, str) else key
    upd_cols = [c for c in updates.columns if c not in keys]
    renamed = updates.select(
        *[F.col(k) for k in keys], *[F.col(c).alias(f"__new_{c}") for c in upd_cols]
    )
    out = df.join(F.broadcast(renamed), keys, "left")
    for c in upd_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__new_{c}"), F.col(c)))
    return out.drop(*[f"__new_{c}" for c in upd_cols])


def apply_deletes(df: DataFrame, deletes: DataFrame, key: str | list[str]) -> DataFrame:
    """DELETE WHERE key IN (…) (M2) — anti-join against the deletion set."""
    return df.join(F.broadcast(deletes), key, "left_anti")


def insert_missing(existing: DataFrame, incoming: DataFrame, key: str | list[str]) -> DataFrame:
    """INSERT … SELECT … WHERE key NOT IN (existing) (M3) — upsert-lite:
    append only rows whose key is absent, by name."""
    new_rows = incoming.join(existing.select(*( [key] if isinstance(key, str) else key )), key, "left_anti")
    return existing.unionByName(new_rows, allowMissingColumns=False)


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key: str | list[str],
    *,
    delete_col: str | None = None,
    null_safe_keys: bool = True,
) -> DataFrame:
    """One-pass MERGE (the ``MERGE INTO`` shape, M1+M2+M3 fused): rows
    present only in ``target`` pass through, matched keys take the
    source's values (WHEN MATCHED THEN UPDATE), source-only keys are
    inserted (WHEN NOT MATCHED THEN INSERT), and — when ``delete_col``
    names a boolean tombstone column in ``source`` — matched rows whose
    tombstone is true are dropped (WHEN MATCHED AND tombstone THEN
    DELETE).

    Why it exists next to ``apply_updates``/``apply_deletes``/
    ``insert_missing``: composing those three scans the target THREE
    times and shuffles per step; at 100 TB the nightly upsert batch is
    applied in ONE full-outer join on the key — one shuffle of each side.
    This is Delta/Iceberg MERGE re-expressed on plain relations: the
    result overwrites the table, no mutable storage needed.

    ``source`` must carry every ``target`` column (an upsert batch is a
    full-row payload, unlike ``apply_updates``'s sparse patches) plus
    optionally ``delete_col``. By default keys match NULL-safely
    (``eqNullSafe``): a NULL-key change row updates/deletes the NULL-key
    target row instead of silently re-inserting a duplicate on every
    application — without that, the re-apply fixpoint a CDC apply relies
    on breaks for bad upstream extracts. Trade-off: Catalyst extracts
    null-safe keys as ``(coalesce(k, default), isnull(k))`` pairs, which
    a table bucketed on the raw key no longer satisfies — so the
    exchange-free bucketed-table path (``write_bucketed_table``) needs
    ``null_safe_keys=False``, correct whenever the key is guaranteed
    non-null (enforce upstream with an expectations rule).
    """
    keys = [key] if isinstance(key, str) else list(key)
    if not keys:
        raise ValueError("merge_upsert needs at least one key column")
    tcols = target.columns
    # case-insensitive, like Spark's own column resolution: a source
    # carrying 'V' satisfies target column 'v' (F.col("v") resolves it)
    src_ci = {c.casefold() for c in source.columns}
    missing = {c for c in tcols if c.casefold() not in src_ci}
    if missing:
        raise ValueError(
            f"merge_upsert source must carry every target column; missing {sorted(missing)}"
        )
    s = source.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"__s_{c}") for c in tcols if c not in keys],
        *( [F.col(delete_col).alias("__tomb")] if delete_col else [] ),
        F.lit(True).alias("__in_s"),
    ).alias("s")
    t = target.alias("t")
    cmp = (lambda a, b: a.eqNullSafe(b)) if null_safe_keys else (lambda a, b: a == b)
    cond = [cmp(F.col(f"t.{k}"), F.col(f"s.{k}")) for k in keys]
    j = t.join(s, cond, "full_outer")
    if delete_col:
        # matched + tombstone → DELETE; source-only tombstone → no-op
        # (a delete for an absent key inserts nothing); either way the
        # row leaves the result, so one predicate covers both
        j = j.filter(~F.coalesce(F.col("__tomb"), F.lit(False)))
    # matched or source-only → source values; target-only → target values
    # (presence marker, not key-null checks — NULL keys are legitimate)
    take_source = F.col("__in_s").isNotNull()
    out = j.select(
        *[
            F.when(take_source, F.col(f"s.{k}")).otherwise(F.col(f"t.{k}")).alias(k)
            for k in keys
        ],
        *[
            F.when(take_source, F.col(f"__s_{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in tcols
            if c not in keys
        ],
    )
    return out.select(*tcols)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str | list[str],
    *,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two table snapshots: one row per key
    present in either side, tagged ``insert`` / ``delete`` / ``update`` /
    ``same`` — the diff a daily-reloaded warehouse (the reference's
    WRITE_TRUNCATE layers) needs to publish increments instead of full
    copies downstream.

    Change detection is null-safe per compared column (NULL→value and
    value→NULL are updates). One full-outer hash join on the key — both
    sides shuffle once; at 100 TB co-locate the snapshots by bucketing the
    key at write time and the join runs exchange-free.
    """
    keys = [key] if isinstance(key, str) else list(key)
    cols = compare_cols or [c for c in old.columns if c not in keys]
    # presence markers, not key-null checks: a legitimately-NULL key column
    # must not read as "absent"
    o = old.select(*keys, *cols, F.lit(True).alias("__in_o")).alias("o")
    n = new.select(*keys, *cols, F.lit(True).alias("__in_n")).alias("n")
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
    joined = o.join(n, cond, "full_outer")
    in_old = F.col("o.__in_o").isNotNull()
    in_new = F.col("n.__in_n").isNotNull()
    changed = F.lit(False)
    for c in cols:
        changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    op = (
        F.when(in_old & ~in_new, F.lit("delete"))
        .when(~in_old & in_new, F.lit("insert"))
        .when(changed, F.lit("update"))
        .otherwise(F.lit("same"))
    )
    return joined.select(
        *[F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in keys],
        op.alias("op"),
        *[F.col(f"o.{c}").alias(f"old_{c}") for c in cols],
        *[F.col(f"n.{c}").alias(f"new_{c}") for c in cols],
    )


def apply_diff(
    df: DataFrame, changes: DataFrame, key: str | list[str]
) -> DataFrame:
    """Consumer-side apply of a :func:`snapshot_diff`-schema change feed
    (``op`` insert/update/delete; ``same`` rows are ignored): remove every
    touched key, then add the feed's new row images. Replaying interval
    after interval onto a bootstrap reconstructs the producer table
    exactly — the DataFrame-level applier behind the
    ``sources.manifest.manifest_feed`` consumer loop (the manifest-table
    applier is ``merge_manifest_table``; this one targets plain
    relations/marts). One hash anti-join on the touched keys plus a union
    of feed-sized new images — cost tracks the feed, not the table."""
    keys = [key] if isinstance(key, str) else list(key)
    cols = [c for c in df.columns if c not in keys]
    touched = changes.filter(F.col("op") != "same")
    new_rows = touched.filter(F.col("op") != "delete").select(
        *keys, *[F.col(f"new_{c}").alias(c) for c in cols]
    )
    return df.join(
        touched.select(*keys), keys, "left_anti"
    ).unionByName(new_rows.select(*df.columns))


def merge_aggregates(
    old_agg: DataFrame,
    delta_agg: DataFrame,
    keys: list[str],
    *,
    counts: list[str] = (),
    sums: list[str] = (),
    mins: list[str] = (),
    maxs: list[str] = (),
) -> DataFrame:
    """Incremental aggregate maintenance: combine an existing aggregate
    table with the aggregate of a new delta — the daily mart refresh that
    reads only the day's partition instead of recomputing the full history
    (the reference recomputes every mart wholesale each run,
    ``d_gmaps_mart_review_trends.py:71-106``).

    Only decomposable measures are accepted (counts/sums/mins/maxs —
    averages belong downstream as sum/count). The merge is a unionByName +
    one groupBy on the aggregate keys: cost scales with |aggregate| +
    |delta|, never with history. Exactness requires the inputs to carry
    exact partials (bigint counts, decimal sums) — the same discipline the
    engine's aggregation queries already follow."""
    merged = old_agg.unionByName(delta_agg)
    aggs = (
        [F.sum(c).alias(c) for c in counts]
        + [F.sum(c).alias(c) for c in sums]
        + [F.min(c).alias(c) for c in mins]
        + [F.max(c).alias(c) for c in maxs]
    )
    return merged.groupBy(*keys).agg(*aggs)
