"""Incremental src → ods as Structured Streaming.

The reference's "streaming" is daily-scheduled batch over date-stamped blob
paths (``schedule_interval="@daily"`` ``d_gmaps_crawler_to_src.py:33``;
``{blob}/{date}/*.parquet`` ``d_gmaps_reviews_src_to_ods.py:15-16``) with
sensor-based synchronization. A Structured Streaming file source with an
``availableNow`` trigger subsumes all of it: new files are discovered from
checkpointed progress, each micro-batch lands idempotently into the
day-partitioned ods table, and the sensors disappear — downstream reads see
committed partitions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def stream_src_to_ods(
    spark: SparkSession,
    src_path: str,
    schema: StructType,
    transform: Callable[[DataFrame], DataFrame],
    ods_path: str,
    checkpoint: str,
    *,
    partition_by: str = "published_at",
    fmt: str = "parquet",
) -> None:
    """Run one incremental hop: discover new files under ``src_path``, apply
    the ods transform, append into the partitioned ods table. availableNow
    processes the backlog then stops — the scheduled-batch operating mode."""
    stream = spark.readStream.format(fmt).schema(schema).load(src_path)
    out = transform(stream)
    (
        out.writeStream.format("parquet")
        .option("path", ods_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(partition_by)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_to_serving(
    stream: DataFrame,
    write_batch,
    checkpoint: str,
) -> None:
    """Serving-layer streaming sink via foreachBatch — the streaming form of
    the reference's MySQL load (``MySQL/weatherINFO.ipynb`` cell 3, done
    there as a notebook's row-by-row INSERT loop).

    ``write_batch(df, epoch_id)`` receives each micro-batch as a normal
    DataFrame, so any batch writer works (df.write.jdbc, saveAsTable, …).
    foreachBatch delivers at-least-once: a batch may be re-delivered with
    the SAME epoch_id after recovery, so write_batch must be idempotent per
    epoch (overwrite an epoch-keyed partition, or MERGE on a key) — that is
    the contract, not an implementation detail."""
    (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _cdc_bootstrap(batch: DataFrame, epoch: int, delete_col: str | None, where: str) -> DataFrame:
    """Shared first-epoch bootstrap of the CDC sink and the replication
    drivers: refuse when the checkpoint says earlier epochs committed but
    the target is gone (re-bootstrapping from one batch silently drops
    every earlier key), otherwise strip tombstoned rows (a delete in the
    very first batch inserts nothing) and drop the tombstone column."""
    if epoch > 0:
        raise RuntimeError(
            f"{where}: checkpoint is at epoch {epoch} but the target does "
            "not exist — refusing to bootstrap from a partial change feed "
            "(prior epochs' rows would be silently lost)"
        )
    out = batch
    if delete_col is not None:
        out = out.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)
    return out


def stream_cdc_apply_manifest(
    stream: DataFrame,
    base_path: str,
    key: str,
    *,
    checkpoint: str,
    delete_col: str | None = None,
    delete_via_dv: bool = False,
    keep: int = 2,
    compact_every: int | None = None,
    small_bytes: int = 32 * 1024 * 1024,
    app_id: str | None = None,
) -> None:
    """CDC apply onto a manifest-backed table (``sources.manifest``):
    treat the stream as a change feed of full-row upsert payloads
    (optionally carrying a boolean tombstone in ``delete_col``) and
    MERGE each micro-batch into the table — matched keys update, new
    keys insert, tombstoned keys delete. The concrete form of
    :func:`stream_to_serving`'s "MERGE on a key" idempotence contract;
    ``availableNow`` + checkpoint give the scheduled-CDC operating mode:
    each run drains the backlog then stops.

    A micro-batch costs what the batch TOUCHES, not what the table
    holds: each epoch is one file-skipping MERGE commit (only files
    whose key range intersects the batch are rewritten; everything else
    is carried forward in the manifest) published by an atomic commit
    marker, so a crash at any point leaves the previous complete
    version current. A drain republishes ~batch-sized files plus a KB
    of metadata.

    Epoch 0 against a missing table bootstraps it (tombstones stripped,
    clustered on ``key``). No crash state loses the table, so a
    committed epoch finding no table means external loss (retention
    script, ``rm -rf``, moved mount): the sink refuses to re-bootstrap
    from one batch, which would silently drop every earlier key.
    Replayed epochs are merge fixpoints — the re-published version is
    content-identical.

    Precondition: at most one change per key per micro-batch (collapse
    a multi-change feed to the latest change first, e.g. with
    ``operators.dedup.dedup_keep_last`` on an event-time column).

    Per-epoch merge commits accrete small files; ``compact_every=N``
    folds files under ``small_bytes`` into big ones every N epochs (an
    extra commit, content-identical) — the inline form of the
    out-of-band OPTIMIZE cadence. Pair with an occasional
    ``vacuum_manifest_table`` to reclaim superseded files.
    ``key`` is a single non-null column (the manifest-merge contract).

    ``delete_via_dv=True`` (requires ``delete_col``) routes each epoch's
    tombstones through :func:`sources.manifest.delete_manifest_table`
    instead of the merge: condemned rows land in deletion-vector
    sidecars with ZERO data files rewritten, so a delete-heavy feed
    (retention expiry, GDPR erasure, curation tombstones) stops paying
    merge's rewrite of every file a condemned key lands in — the
    compaction cadence then materializes the vectors on its own clock.
    Upsert rows still merge; a delete-only epoch commits only the
    vector. CDC batches are key-unique (the standing sink contract), so
    the upsert-then-delete apply order is immaterial.

    ``app_id`` upgrades replay safety from fixpoint to WATERMARK
    (``txn=(app_id, epoch)`` on every epoch commit): a replayed epoch
    stops re-running its merge/delete jobs and re-publishing a
    content-identical version — it no-ops against the table's
    transaction high-water mark (KB meta check, zero jobs). In the DV
    form the upsert and delete commits ride two derived app streams
    (``<app_id>/u``, ``<app_id>/d``) so a crash BETWEEN them replays
    only the missing half. Content is identical either way; the
    watermark saves the replayed work and the version-history noise.
    """
    from tibame_project_spark.sources.manifest import (
        compact_manifest_table,
        delete_manifest_table,
        last_txn_version,
        merge_manifest_table,
        read_manifest_version,
        write_manifest_table,
    )

    if delete_via_dv and delete_col is None:
        raise ValueError("delete_via_dv=True requires delete_col")

    def apply_batch(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        # ONE head listing per micro-batch: every branch below keys off it
        head = read_manifest_version(spark, base_path)
        replayed = False
        if app_id is not None and head is not None:
            # the bootstrap commit records the BARE app_id (one commit,
            # one txn) while steady-state DV epochs ride the derived
            # <app>/u and <app>/d streams — so a crash-replayed epoch 0
            # would otherwise miss its own watermark in the DV path and
            # re-run both halves (publishing phantom versions)
            bare = last_txn_version(spark, base_path, app_id)
            replayed = bare is not None and bare >= epoch
        if head is None:
            first = _cdc_bootstrap(
                batch, epoch, delete_col, f"stream_cdc_apply_manifest({base_path})"
            )
            write_manifest_table(
                spark, first, base_path, stats_cols=[key], cluster_by=key,
                keep=keep, txn=(app_id, epoch) if app_id else None,
            )
            # the bootstrap write IS one clustered fold — running the
            # compaction cadence on it (compact_every=1) would refold the
            # just-written files into an extra version, drifting version
            # numbers for callers that pin them. The cadence starts at the
            # first incremental epoch.
            return
        if replayed:
            if head == 0:
                # the replayed epoch IS the bootstrap (only its commit
                # exists): skip the cadence here too, or the crash-replay
                # path would publish the very extra version the clean
                # path above just stopped producing — version numbers
                # must not depend on whether a crash happened
                return
            pass  # watermark hit: skip the merge/delete jobs, but fall
            # through to the compaction cadence below — a replayed epoch
            # that returned early would defer its scheduled fold a full
            # compact_every cycle, and the fold is fixpoint-safe to replay
        elif delete_via_dv:
            upserts = batch.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
            tombs = batch.filter(
                F.coalesce(F.col(delete_col), F.lit(False))
            ).select(key)
            # micro-batch relations are pinned to the epoch's files, so
            # the two halves are consistent under recomputation
            if upserts.limit(1).count():
                merge_manifest_table(
                    spark, upserts, base_path, key, keep=keep,
                    txn=(f"{app_id}/u", epoch) if app_id else None,
                )
            if tombs.limit(1).count():
                delete_manifest_table(
                    spark, tombs, base_path, key, keep=keep,
                    txn=(f"{app_id}/d", epoch) if app_id else None,
                )
        else:
            merge_manifest_table(
                spark, batch, base_path, key, delete_col=delete_col,
                keep=keep, txn=(app_id, epoch) if app_id else None,
            )
        if compact_every and (epoch + 1) % compact_every == 0:
            compact_manifest_table(
                spark, base_path, small_bytes=small_bytes, keep=keep
            )

    (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_append_manifest_table(
    stream: DataFrame,
    base_path: str,
    *,
    checkpoint: str,
    stats_cols: list[str],
    app_id: str,
    cluster_by: str | list[str] | None = None,
    n_files: int = 0,
    keep: int = 2,
    compact_every: int | None = None,
    small_bytes: int = 32 * 1024 * 1024,
    expect: list | None = None,
    constraints: dict | None = None,
) -> None:
    """EXACTLY-ONCE append-only streaming sink into a manifest-backed
    table — the ingest shape (reference: the daily crawler loads,
    ``d_gmaps_crawler_to_src.py:33``, which append date-stamped blobs and
    trust the scheduler never to re-run a day).

    foreachBatch delivers at-least-once: a crashed driver replays its
    last unacknowledged micro-batch, and a plain append would double its
    rows. Each epoch here commits with ``txn=(app_id, epoch)``
    (:func:`sources.manifest.append_manifest_table`): the table's meta
    carries a per-application watermark checked under the commit claim,
    so the replayed epoch is a no-op and at-least-once delivery becomes
    exactly-once table content. This is Delta's idempotent-writes design
    (txnAppId/txnVersion) on the manifest tier; ``app_id`` must be
    unique per logical stream per table — two streams sharing an id
    would swallow each other's epochs.

    Epoch 0 against a missing table creates it (``stats_cols`` fixes the
    skipping columns, with the epoch recorded in the same commit, so a
    crash between the create and the checkpoint ack replays into a
    no-op append). ``compact_every=N`` folds small files every N epochs,
    riding the same watermark via a distinct app stream (compaction is
    content-identical, so its replay safety is fixpoint, not watermark).

    ``expect=`` gates every micro-batch with per-epoch expectation rules
    (a violating batch aborts the STREAM — at-least-once delivery means
    it would just re-fail forever; fix upstream and restart);
    ``constraints=`` persists CHECK constraints at table creation, so
    every later writer — this stream or any other — is gated by them;
    when the table ALREADY exists, each requested constraint must
    already be persisted with the identical expression, else the batch
    raises (fail closed — a sink that silently dropped the argument
    would leave the caller believing enforcement was installed;
    install on an existing table via ``add_manifest_constraint``).
    """
    from tibame_project_spark.sources.manifest import (
        append_manifest_table,
        compact_manifest_table,
        manifest_constraints,
        read_manifest_version,
        write_manifest_table,
    )

    def apply_batch(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        if read_manifest_version(spark, base_path) is None:
            write_manifest_table(
                spark, batch, base_path, stats_cols=stats_cols,
                cluster_by=cluster_by, n_files=n_files, keep=keep,
                txn=(app_id, epoch), expect=expect, constraints=constraints,
            )
        else:
            if constraints is not None:
                # constraints only persist at CREATE; silently dropping
                # them against a pre-created table would leave the caller
                # believing CHECK enforcement was installed when nothing
                # was — fail closed and point at the management verb
                have = manifest_constraints(spark, base_path)
                missing = {
                    n: e for n, e in constraints.items()
                    if have.get(n) != e
                }
                if missing:
                    raise ValueError(
                        f"table {base_path} already exists without the "
                        f"requested CHECK constraints {sorted(missing)} "
                        f"(persisted: {sorted(have)}) — constraints= only "
                        "applies at table creation; use "
                        "add_manifest_constraint to install them on an "
                        "existing table"
                    )
            append_manifest_table(
                spark, batch, base_path, cluster_by=cluster_by,
                n_files=n_files, keep=keep, txn=(app_id, epoch),
                expect=expect,
            )
        if compact_every and (epoch + 1) % compact_every == 0:
            compact_manifest_table(
                spark, base_path, small_bytes=small_bytes, keep=keep
            )

    (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def consume_manifest_feed(
    spark: SparkSession,
    base_path: str,
    key: str | list[str],
    *,
    state_path: str,
    apply_batch: Callable[[DataFrame, int], None],
    per_commit: bool = True,
    max_epochs: int | None = None,
) -> int:
    """The availableNow drain loop over a :func:`sources.manifest.
    manifest_feed` cursor — the consumer-side bridge between the
    pull-based feed and the streaming tier's epoch discipline: each
    iteration is one micro-batch (``per_commit=True``: exactly one
    producer COMMIT per epoch, the replay grain Structured Streaming's
    checkpoint gives a file source; ``False``: drain cursor→head in one
    epoch), ``apply_batch(changes, version)`` is the foreachBatch body,
    and the cursor commit after it is the epoch's checkpoint write.
    Drains until caught up (or ``max_epochs``), then returns the number
    of epochs applied — the scheduled-CDC operating mode.

    At-least-once, exactly like the checkpointed sinks above: a crash
    between ``apply_batch`` and the cursor commit replays that epoch on
    the next run, so ``apply_batch`` must be a fixpoint (the merge/CDC
    appliers here are — :func:`replicate_manifest_table` is the packaged
    form). A fresh cursor bootstraps with the full current table as
    insert rows (Delta streaming's initial-snapshot semantics), one code
    path with every later epoch."""
    from tibame_project_spark.sources.manifest import (
        manifest_feed,
        manifest_feed_commit,
        read_manifest_version,
    )
    from tibame_project_spark.sources.writers import _hadoop_path

    fs_state = _hadoop_path(spark._jvm, state_path)
    fs = fs_state.getFileSystem(spark._jsc.hadoopConfiguration())
    applied = 0
    while max_epochs is None or applied < max_epochs:
        head = read_manifest_version(spark, base_path)
        if head is None:
            raise FileNotFoundError(
                f"no committed manifest table under {base_path}"
            )
        if fs.exists(fs_state):
            from tibame_project_spark.sources.manifest import _read_json_poll

            # torn-tolerant: this poll races the producer's cursor publish
            cursor = _read_json_poll(spark, state_path, "feed cursor")["version"]
            if cursor >= head:
                break
            target = cursor + 1 if per_commit else head
        else:
            target = head  # bootstrap epoch: initial snapshot at head
        changes, v = manifest_feed(
            spark, base_path, key, state_path=state_path, to_version=target
        )
        apply_batch(changes, v)
        manifest_feed_commit(spark, state_path, v)
        applied += 1
    return applied


def replicate_manifest_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    key: str,
    *,
    state_path: str,
    keep: int = 2,
    per_commit: bool = True,
    max_epochs: int | None = None,
) -> int:
    """Manifest→manifest CDC replication: tail ``src_path``'s feed and
    apply every interval to ``dst_path`` as a file-skipping MERGE (one
    :func:`consume_manifest_feed` epoch per producer commit), producing
    an independent table whose live content tracks the source — the
    produce→consume story of the storage tier run end-to-end under
    streaming epoch semantics. Bootstrap creates the destination from
    the initial snapshot, clustered on ``key`` and sized to the SOURCE's
    live file count (not one monolithic file — the destination's merge
    path depends on multi-file skipping); a committed cursor with
    a missing destination refuses (prior epochs' rows would silently
    vanish — the standing CDC-sink guard). Every epoch's apply is a
    merge fixpoint, so a crash between apply and cursor commit replays
    without dupes or gaps — INCLUDING the bootstrap epoch: a crash after
    the destination write but before the cursor commit re-runs the
    bootstrap as a FULL REFRESH of the destination (never a merge — the
    re-pulled snapshot is at the source's CURRENT head, and a merge of
    insert-only rows could never remove keys the source deleted between
    the two bootstrap attempts). Returns the number of epochs applied."""
    return consume_manifest_feed(
        spark, src_path, key, state_path=state_path,
        apply_batch=_replication_apply(
            spark, src_path, dst_path, key, keep=keep, state_path=state_path
        ),
        per_commit=per_commit, max_epochs=max_epochs,
    )


def _replication_apply(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    key: str,
    *,
    keep: int,
    state_path: str,
) -> Callable[[DataFrame, int], None]:
    """The per-epoch apply closure :func:`replicate_manifest_table` and
    :func:`stream_replicate_manifest_table` share: bootstrap/refresh the
    destination from a bootstrap-epoch snapshot, otherwise file-skipping
    MERGE the interval (a fixpoint under replay).

    Source SCHEMA EVOLUTION is detected, not smuggled: the feed carries
    data in the source head's schema but no DDL, so when the interval's
    columns/types stop matching the destination's schema (a rename or a
    type widening landed at the source), the apply raises BEFORE touching
    the destination or the cursor, naming the fix — apply the same
    :func:`sources.manifest.evolve_manifest_table` to the destination and
    re-run; the replayed epoch then applies cleanly. Silently merging
    would either drop the renamed column's history or write wider values
    under the destination's narrower declared schema."""
    from pyspark.sql.types import StructType

    from tibame_project_spark.sources.manifest import (
        _meta,
        manifest_table_stats,
        merge_manifest_table,
        read_manifest_version,
        write_manifest_table,
    )
    from tibame_project_spark.sources.writers import _hadoop_path

    state_p = _hadoop_path(spark._jvm, state_path)
    state_fs = state_p.getFileSystem(spark._jsc.hadoopConfiguration())

    def apply_batch(changes: DataFrame, version: int) -> None:
        cols = [
            c[len("new_"):] for c in changes.columns if c.startswith("new_")
        ]
        cursor_exists = state_fs.exists(state_p)
        dst_head = read_manifest_version(spark, dst_path)
        dst_missing = dst_head is None
        if not dst_missing and cursor_exists:
            want = {key: changes.schema[key].dataType.simpleString()}
            for c in cols:
                want[c] = changes.schema[f"new_{c}"].dataType.simpleString()
            have = {
                f.name: f.dataType.simpleString()
                for f in StructType.fromJson(
                    _meta(spark, dst_path, dst_head)["schema"]
                ).fields
            }
            if want != have:
                raise ValueError(
                    f"replicate_manifest_table({dst_path}): the source "
                    f"schema evolved — the feed interval carries "
                    f"{sorted(want.items())} but the destination's schema "
                    f"is {sorted(have.items())}. The feed carries data, "
                    "not DDL: apply the same evolve_manifest_table "
                    "rename/widen to the destination, then re-run — the "
                    "cursor was not advanced, so the replayed epoch "
                    "applies cleanly."
                )
        if dst_missing or not cursor_exists:
            # two ways here: a genuinely fresh destination, or a crash-
            # replay of the bootstrap epoch (dst written, cursor never
            # committed). Both take write_manifest_table — create or full
            # refresh — so a replayed bootstrap REPLACES the destination
            # with the current snapshot instead of merging insert rows
            # into it (which would orphan keys deleted at the source
            # between the two bootstrap heads). A committed cursor with a
            # missing destination still means external loss — the shared
            # guard refuses.
            first = _cdc_bootstrap(
                changes.where(F.col("op") != "delete").select(
                    key, *[F.col(f"new_{c}").alias(c) for c in cols]
                ),
                1 if cursor_exists else 0,
                None,
                f"replicate_manifest_table({dst_path})",
            )
            # mirror the source's file granularity (metadata-only lookup):
            # the default n_files=0 would land the whole snapshot in ONE
            # range partition, defeating the file skipping every later
            # merge epoch depends on
            n_files = max(
                1, int(manifest_table_stats(spark, src_path)["numFiles"])
            )
            write_manifest_table(
                spark, first, dst_path, stats_cols=[key], cluster_by=key,
                n_files=n_files, keep=keep,
            )
            return
        ups = changes.where(F.col("op") != "delete").select(
            key,
            *[F.col(f"new_{c}").alias(c) for c in cols],
            F.lit(False).alias("__dead"),
        )
        dels = changes.where(F.col("op") == "delete").select(
            key,
            *[F.col(f"old_{c}").alias(c) for c in cols],
            F.lit(True).alias("__dead"),
        )
        merge_manifest_table(
            spark, ups.unionByName(dels), dst_path, key,
            delete_col="__dead", keep=keep,
        )

    return apply_batch


def stream_replicate_manifest_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    key: str,
    *,
    state_path: str,
    checkpoint: str,
    keep: int = 2,
    trigger_interval: str | None = None,
):
    """:func:`replicate_manifest_table` driven by a REAL StreamingQuery
    instead of the manual drain loop: a ``rate-micro-batch`` tick stream
    schedules one feed epoch per micro-batch through ``foreachBatch``,
    so micro-batch scheduling, checkpointing, and stop/restart semantics
    come from Spark's own streaming engine while the manifest feed's
    cursor stays the replication source of truth. The division of labor
    is deliberate: the StreamingQuery checkpoint tracks only the TICK
    source (rate offsets are meaningless to replay), and each epoch's
    durability barrier is the feed's cursor commit — a kill between an
    epoch's apply and its cursor commit replays that interval on restart
    as a merge fixpoint, exactly like the loop variant (the standard
    foreachBatch bridge for pull-based sources that have their own
    transactional cursor, e.g. JDBC/Kafka-to-idempotent-sink patterns).

    Returns the started ``StreamingQuery``; the caller owns its
    lifecycle (``stop()`` when the replica is caught up, or leave it
    running as a continuous replication daemon). A caught-up tick
    applies zero epochs and costs one head listing — size
    ``trigger_interval`` (e.g. ``"30 seconds"``) to the source's commit
    cadence for daemon deployments; the default ASAP trigger is the
    drain-fast mode tests and catch-up runs want."""
    apply_batch = _replication_apply(
        spark, src_path, dst_path, key, keep=keep, state_path=state_path
    )

    def tick(_batch: DataFrame, _epoch: int) -> None:
        consume_manifest_feed(
            spark, src_path, key, state_path=state_path,
            apply_batch=apply_batch, per_commit=True, max_epochs=1,
        )

    writer = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1)
        .option("numPartitions", 1)
        .load()
        .writeStream.foreachBatch(tick)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_interval is not None:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    *,
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup with bounded state: drop rows whose ``keys``
    were already seen within the watermark horizon
    (``dropDuplicatesWithinWatermark``) — the streaming form of D1/D2 for
    at-least-once upstream sources (the reference's crawler re-scrapes pages
    across runs; batch mode handles it with keep-first windows, a stream
    must dedup online).

    State scales with keys-per-watermark-window, not stream length — the
    property that keeps this runnable forever; plain ``dropDuplicates`` on a
    stream would grow state without bound."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: tuple[str, str],
    left_ts: str,
    right_ts: str,
    window_seconds: int,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair right-stream rows
    landing within ``window_seconds`` AFTER a left row with the same key —
    the streaming form of ``operators.joins.range_join`` (click→purchase
    attribution while both sides are still arriving).

    Both sides carry a watermark and the join condition bounds event time
    in both directions, so Spark can expire buffered state: each side's
    state holds only rows newer than (watermark + window) — the condition
    that makes an infinite join finite. Works identically on static frames
    (same code path, batch join).
    """
    lk, rk = on
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    lcol = F.col(f"l.{left_ts}")
    rcol = F.col(f"r.{right_ts}")
    return l.join(
        r,
        (F.col(f"l.{lk}") == F.col(f"r.{rk}"))
        & (rcol >= lcol)
        & (rcol < F.timestamp_add("SECOND", F.lit(window_seconds), lcol)),
    )


def windowed_event_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Tumbling-window counts with a watermark for late data — the streaming
    generalization of the reference's day-partitioned daily rollup. Works on
    both a static and a streaming DataFrame (same code path)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("win"), F.col(key_col))
        # decimal partials → exact, order/parallelism-independent double sum
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "n",
            "total_value",
        )
    )


def sessionize(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
) -> DataFrame:
    """Session windows per user (gap-based) — the custom-stateful-operator
    surface. Uses the built-in session_window (state store managed by Spark)
    rather than applyInPandasWithState: declarative wins again."""
    return (
        events.withWatermark(ts_col, gap)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), F.col(user_col))
        # decimal partials → exact, order/parallelism-independent double sum
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
        )
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            user_col,
            "n_events",
            "session_value",
        )
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    *,
    stream_key: str,
    dim_key: str,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: attach slowly-changing dimension
    attributes to a streaming fact — the streaming form of the reference's
    fact→dim lookup hop (``d_gmaps_reviews_ods_to_fact.py``'s join of
    review facts onto the places dimension, there a scheduled batch).

    Stream-static joins are stateless on the stream side: Spark re-plans
    the STATIC side every micro-batch, so a dimension refreshed in place
    (overwritten parquet, updated table) is picked up on the next batch
    without restarting the query — the standard pattern for dimension
    freshness under continuous ingest. No watermark is needed because no
    stream state is buffered.

    ``broadcast_dim`` hints the dimension broadcast-able (the usual case: a
    dimension is KB–GB while the stream is unbounded); at 100 TB the fact
    side never shuffles — each micro-batch maps past the broadcast copy.
    Left join by default so facts with no dimension row survive with nulls
    (the reference keeps unmatched reviews). Works identically on static
    frames (same code path, batch join) — which is what the oracle replays.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, F.col(stream_key) == F.col(dim_key), how)
