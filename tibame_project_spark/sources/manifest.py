"""Manifest-backed tables: incremental snapshot commits with per-file
statistics and data skipping.

A versioned overwrite that republishes a FULL copy of the table per
version is the right tool for dims and marts, the wrong one for a 100 TB
fact table whose nightly change batch touches 0.1% of rows. This module
is the layer the big table formats (Delta Lake, Apache Iceberg — public
designs; original implementation on plain Spark relations + Hadoop FS
calls) put on top of an atomic commit marker (``_COMMIT_v<n>``, created
new, never renamed): a per-version **manifest** listing the immutable
data files that compose the table, with per-file row counts, byte
sizes, and min/max statistics on declared columns. Commits then become
metadata operations:

- **append** adds files, rewrites nothing (:func:`append_manifest_table`);
- **merge** rewrites ONLY files whose key range intersects the change
  batch and carries every other file forward untouched
  (:func:`merge_manifest_table`) — the nightly 100 GB upsert stops
  costing a 100 TB rewrite;
- **reads** prune files by their stats before Spark ever opens them
  (:func:`read_manifest_table` ``prune=``) — the file-skipping half of
  partition pruning, for columns the directory layout doesn't encode;
- **delete** condemns rows by key WITHOUT rewriting any data file —
  per-file deletion-vector sidecars, Delta's public DV design
  (:func:`delete_manifest_table`); reads anti-join the vectors, the
  next merge/compaction touching a file folds its vector in;
- **compaction** folds small files into big ones without changing
  content (DVs applied and cleared) (:func:`compact_manifest_table`);
- **vacuum** deletes data files and DV sidecars no retained version
  references (:func:`vacuum_manifest_table`);
- **restore** rolls the table back to a retained version by publishing
  a new metadata-only head (:func:`restore_manifest_table`) — history
  moves forward, nothing is rewritten;
- **feed** lets a consumer tail the table with a persisted cursor
  (:func:`manifest_feed` / :func:`manifest_feed_commit`) — each pull
  costs the files the commits touched, at-least-once on replay;
- **write-audit-publish** stages a fully-prepared merge WITHOUT
  publishing it (:func:`stage_merge_manifest_table`), auditable via
  :func:`read_staged_manifest`, then published through the same
  version-CAS as a live commit (:func:`publish_staged_manifest`) or
  dropped (:func:`abandon_staged_manifest`) — Iceberg's WAP pattern.

Commit protocol: the publish point is still the atomic create-new
``_COMMIT_v<n>`` marker (highest marker = current; crash before the
marker leaves the previous version current and every partial artifact
invisible), but commits are **optimistically concurrent** (r09): data
files and DV sidecars land in attempt-unique ``c=<token>`` dirs so
racing writers never contend on a path, and ``_finish`` resolves the
race with a version-CAS loop — if the head moved, the commit REBASES
(replays its manifest edit on the new head) when the concurrent commits
are disjoint (append∘append, append∘merge on disjoint key ranges,
compact∘append), and raises :class:`ConcurrentCommitError` when they are
not (two merges over one file, anything touching a merge/delete's key
range, schema changes, full refresh/restore races). The tiny metadata
window (manifest rename + meta json + tag-aware prune + marker) is
serialized by an atomic ``_CLAIM_v<n>`` marker — the manifest parquet
itself is materialized to ``manifest_tmp/`` BEFORE the claim, so the
claimed window never runs a Spark job; a claim whose commit never
appears is a crashed writer — :func:`recover_manifest_table` clears it.

**Filesystem requirement**: every publish point (claims, markers, tag
pins) is an atomic create-new — ``O_EXCL`` on local paths, Hadoop's
``create(path, overwrite=False)`` on HDFS / ABFS, but NOT atomic on
S3A/GCS without conditional-write support. On such stores install a
conditional-put adapter through the :class:`CommitFS` seam
(:func:`set_commit_fs`) — the same pluggable-LogStore split Delta Lake
documents. Layout under ``base_path``::

    _COMMIT_v<n>       commit markers (atomic create-new; the publish)
    _CLAIM_v<n>        claim markers (atomic create-new; serialize only
                       the metadata writes of version n)
    meta/v=<n>.json    table schema + declared stats columns (+ dv_key)
    manifest/v=<n>/    parquet, one row per live data file:
                       path, bytes, rows, min_<c>, max_<c> per stats col,
                       dv_path (NULL unless a deletion vector applies)
    manifest_tmp/c=<t> one commit attempt's manifest, materialized
                       BEFORE its claim and renamed into place inside it
                       (crashed attempts are swept by vacuum)
    data/c=<token>/    immutable parquet files ADDED by one commit
                       attempt (a version's live set spans many dirs;
                       pre-r09 tables' data/v=<n>/ dirs read unchanged)
    dv/c=<token>/      deletion-vector sidecars of one delete commit:
                       (__path, __key) pairs condemning rows of
                       still-live files
    tags/<name>.json   immutable named version pins (release tags):
                       tagged versions are spared by retention pruning
                       and, transitively, by vacuum
    staged/<t>/        write-audit-publish stages: a fully-prepared but
                       UNPUBLISHED merge edit (added manifest rows +
                       stage.json); invisible to readers, its data files
                       spared by vacuum until published or abandoned

File statistics come from the parquet FOOTERS the commit just wrote
(min/max/null-count/row-count — zero data bytes re-read); columns whose
footer stats are not exactly decodable (floats, decimals, timestamps)
fall back to one distributed groupBy over the newly written files only
(``_metadata`` hidden columns) — never a re-scan of the whole table.

Scale notes: manifests are one row per FILE (a 100 TB table at 1 GB
files is a 100k-row manifest — KBs of parquet), so reading one is free
and the pruned file list collected to the driver is the same listing
Spark's own file index materializes there. Merge and delete share one
candidate search (``_prepare_keyed_edit``), O(files) and exact in every
tier: a driver-local batch bisects its collected keys against each
file's key range (zero jobs); otherwise, for a small live file set,
one per-file flag rides the batch's single bounds aggregate; a big
table (or key stats whose literals do not provably coerce like the
join) takes a scalar batch-bounds overlap first, then a broadcast
semi-join of the surviving files against the batch's keys.
"""

from __future__ import annotations

import bisect
import json
import math
import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from tibame_project_spark.localdf import local_rows_df
from pyspark.sql.types import (
    BooleanType, ByteType, DateType, DecimalType, IntegerType, LongType,
    ShortType, StringType, StructField, StructType, TimestampType,
)

from tibame_project_spark.sources.writers import (
    _clustered_write,
    _hadoop_path,
    _jvm_class,
)

__all__ = [
    "write_manifest_table",
    "append_manifest_table",
    "merge_manifest_table",
    "stage_merge_manifest_table",
    "stage_delete_manifest_table",
    "read_staged_manifest",
    "publish_staged_manifest",
    "abandon_staged_manifest",
    "list_staged_manifests",
    "delete_manifest_table",
    "compact_manifest_table",
    "update_manifest_table",
    "clone_manifest_table",
    "restore_manifest_table",
    "manifest_feed",
    "manifest_feed_commit",
    "read_manifest_table",
    "read_manifest_version",
    "manifest_stats",
    "manifest_file_paths",
    "manifest_changes",
    "manifest_history",
    "vacuum_manifest_table",
    "bloom_prune_expr",
    "manifest_table_stats",
    "ConcurrentCommitError",
    "CommitFS",
    "set_commit_fs",
    "register_arrow_fs",
    "recover_manifest_table",
    "evolve_manifest_table",
    "tag_manifest_version",
    "delete_manifest_tag",
    "list_manifest_tags",
    "last_txn_version",
    "manifest_txns",
    "expire_txns",
    "version_as_of",
    "manifest_constraints",
    "add_manifest_constraint",
    "drop_manifest_constraint",
    "data_skipping_expr",
    "UnsupportedTableFeatureError",
]

#: Marker filename prefixes of the commit protocol. Version n commits as
#: f"{_COMMIT_PREFIX}{n}"; its claim f"{_CLAIM_PREFIX}{n}" serializes the
#: tiny metadata window of the commit (manifest rename + meta json +
#: tag-aware prune + commit marker) — data writes AND the manifest
#: materialization happen before, in attempt-unique dirs, fully in
#: parallel. ONE definition shared by every writer, prune and reader, so
#: their parsing can never desynchronize.
_COMMIT_PREFIX = "_COMMIT_v"
_CLAIM_PREFIX = "_CLAIM_v"


def _version_suffix(name: str, prefix: str) -> int | None:
    """``int(suffix)`` of a versioned entry name, or None when the name
    doesn't carry an all-digits suffix (``_COMMIT_v1.bak``, ``v=tmp``…).
    Foreign files in a table's base dir are thereby IGNORED instead of
    raising ValueError out of every read/write on the table."""
    if not name.startswith(prefix):
        return None
    suffix = name[len(prefix):]
    return int(suffix) if suffix.isdigit() else None


def _committed_versions(listing) -> list[int]:
    """Version numbers of all commit markers in a base-dir listing."""
    return [
        v
        for st in listing
        if (v := _version_suffix(st.getPath().getName(), _COMMIT_PREFIX)) is not None
    ]


def _create_new(fs, path, data: bytes = b"") -> None:
    """Create the Hadoop ``path`` on ``fs`` with ``data`` iff it does not
    exist; raise if it does. Only the exists-test-and-create is atomic:
    a ``file:`` path is opened with ``O_CREAT | O_EXCL``, so exactly one
    of several racing callers creates it (Hadoop's local
    ``create(path, overwrite=False)`` checks, then creates, and lets
    several win). ``data`` is written AFTER the create, so a concurrent
    reader may see the file shorter than ``data``, and a crash mid-write
    leaves it so. Every other scheme takes Hadoop's create-new, which is
    as atomic as that filesystem makes it (HDFS and ABFS are; S3A and
    GCS without conditional writes are not)."""
    uri = fs.makeQualified(path).toUri()
    if uri.getScheme() == "file":
        local = uri.getPath()
        os.makedirs(os.path.dirname(local), exist_ok=True)
        fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o666)
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        return
    out = fs.create(path, False)
    try:
        if data:
            out.write(bytearray(data))
    finally:
        out.close()


_ORDERABLE_KINDS = (
    "boolean tinyint smallint int bigint float double decimal string date "
    "timestamp timestamp_ntz"
)

#: The one bound on what the engine FORCE-broadcasts (bytes on disk).
#: Deletion-vector sidecars above it are joined WITHOUT a broadcast hint
#: (AQE picks the strategy): sidecars store full (file, key) pairs —
#: unlike Delta's per-file bitmaps — so percent-level condemnation of a
#: huge corpus yields a condemned set no driver should be forced to
#: broadcast. A merge with ``update_condition`` fuses (and so broadcasts
#: its candidate rows explicitly) only while the candidates fit it.
_BROADCAST_MAX_BYTES = 64 * 1024 * 1024

#: Per-file min/max stats for STRING columns are truncated to this many
#: characters (conservatively — see ``_file_stats``): manifest rows must
#: stay KB-scale even when a stats column holds documents.
_STATS_STRING_MAX = 32


def _fs_for(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = _hadoop_path(jvm, path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    """Small metadata file through the Hadoop FS API (portable to object
    stores, unlike ``open()``), published via temp file + atomic rename.

    A direct ``create(path, overwrite) .. write .. close`` exposes the
    empty/partial window between create and close to concurrent readers,
    and a crash inside it leaves a permanently truncated file. That is
    fatal for the feed cursor: live consumers POLL it between producer
    commits (:func:`manifest_feed` /
    ``streaming.incremental.consume_manifest_feed``), and a torn cursor
    bricks consumer restart instead of resuming — witnessed as a
    ``JSONDecodeError`` under a loaded suite. So: write a dot-prefixed
    temp sibling, then rename into place.

    Local paths replace via ``os.replace``: POSIX ``rename(2)`` is the
    real atomic overwrite, while Hadoop's LOCAL ``FileContext``
    ``Rename.OVERWRITE`` is the default ``renameInternal`` — delete-
    then-rename, observably NOT atomic (a racing poller catches the
    missing-file window; only HDFS overrides it natively). The old
    ``fs.create`` path may have left a ChecksumFileSystem ``.crc``
    sidecar; drop it BEFORE the replace (stale crc + new bytes =
    ChecksumException on read; no crc = plain read).

    Remote paths: plain ``rename`` when the destination is fresh (the
    meta/stage case: version-unique names), else ``FileContext``'s
    ``Rename.OVERWRITE`` (atomic on HDFS). Schemes with no
    ``AbstractFileSystem`` binding (s3a et al.) fall back to the direct
    overwrite create — on object stores a PUT only becomes visible at
    close, which is the same old-or-new atomicity the rename provides
    elsewhere. NEVER delete-then-recreate: a poller observing the
    missing-file window would misread absence as 'no cursor' and
    re-bootstrap (duplicate downstream application)."""
    local = _local_dir(path)
    if local is not None:
        d, name = os.path.split(local)
        os.makedirs(d, exist_ok=True)
        crc = os.path.join(d, f".{name}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        tmp_local = os.path.join(d, f".{name}.tmp-{uuid.uuid4().hex}")
        with open(tmp_local, "w", encoding="utf-8") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp_local, local)
        return
    fs, p, jvm = _fs_for(spark, path)
    tmp = _hadoop_path(jvm, p.getParent(), f".{p.getName()}.tmp-{uuid.uuid4().hex}")
    out = fs.create(tmp, True)
    out.write(bytearray(text.encode("utf-8")))
    out.close()
    if fs.rename(tmp, p):
        return
    try:
        fc = _jvm_class(jvm, "org.apache.hadoop.fs.FileContext").getFileContext(
            p.toUri(), spark._jsc.hadoopConfiguration()
        )
        ren = _jvm_class(jvm, "org.apache.hadoop.fs.Options$Rename")
        opts = spark._sc._gateway.new_array(ren, 1)
        opts[0] = ren.OVERWRITE
        fc.rename(tmp, p, opts)
        return
    except Exception:
        pass
    out = fs.create(p, True)
    out.write(bytearray(text.encode("utf-8")))
    out.close()
    fs.delete(tmp, False)


def _sweep_tmp_siblings(
    fs, jvm, dir_path: str, floor_ms: float, *, dry_run: bool = False
) -> int:
    """Delete aged ``.<name>.tmp-<uuid>`` siblings :func:`_write_text`'s
    crashed attempts leave beside metadata files — nothing else reclaims
    them (vacuum and retention sweep data/manifest files only), so
    crashed writers would accumulate junk next to the cursor/meta files
    forever. Age-guarded like vacuum's data sweep: a LIVE writer's temp
    exists for milliseconds between create and rename, so anything older
    than the floor is a crash's leftover, never a racer's in-flight
    publish. ``dry_run`` counts without deleting, so vacuum's dry run
    predicts the real sweep exactly. Returns the number of files."""
    d = _hadoop_path(jvm, dir_path)
    if not fs.exists(d):
        return 0
    swept = 0
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if (
            not st.isDirectory()
            and name.startswith(".")
            and ".tmp-" in name
            and st.getModificationTime() <= floor_ms
        ):
            if not dry_run:
                fs.delete(st.getPath(), False)
            swept += 1
    return swept


def _read_text(spark: SparkSession, path: str) -> str:
    fs, p, jvm = _fs_for(spark, path)
    stream = fs.open(p)
    try:
        return _jvm_class(jvm, "org.apache.commons.io.IOUtils").toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _read_json_poll(
    spark: SparkSession, path: str, what: str, *,
    attempts: int = 5, delay_s: float = 0.05,
) -> dict:
    """Parse a small JSON metadata file whose readers poll it while a
    writer may be publishing (the feed cursor): bounded retry on
    empty/torn content. ``_write_text`` publishes atomically on
    rename-capable stores, so a retry only fires on the object-store
    fallback path or on a file truncated by a pre-atomic-publish crash —
    the latter exhausts the retries and surfaces a diagnosis instead of
    a bare ``JSONDecodeError``. Missing files are NOT retried (absence
    is a state callers branch on, e.g. feed bootstrap)."""
    import time as _time

    last: ValueError | None = None
    for i in range(attempts):
        try:
            return json.loads(_read_text(spark, path))
        except ValueError as e:  # JSONDecodeError subclasses ValueError
            last = e
            _time.sleep(delay_s * (i + 1))
    raise ValueError(
        f"{what} at {path} is empty or unparseable after {attempts} "
        "reads — likely truncated by a crash mid-publish (pre-atomic-"
        "rename engine version); delete it to re-bootstrap, or restore "
        "it from the consumer's last applied version"
    ) from last


def _begin(spark: SparkSession, base_path: str):
    """One pre-commit listing: resolve the head this operation derives
    from (``_finish`` re-lists and CAS-publishes against whatever the
    head is by commit time, rebasing or conflicting as the op allows)."""
    fs, base, _ = _fs_for(spark, base_path)
    listing = list(fs.listStatus(base)) if fs.exists(base) else []
    committed = _committed_versions(listing)
    head = max(committed) if committed else None
    version = (head if head is not None else -1) + 1
    return fs, listing, head, version


def read_manifest_version(spark: SparkSession, base_path: str) -> int | None:
    """The committed head version of a manifest table (its highest
    ``_COMMIT_v<n>`` marker), or None if nothing has been published
    yet. One listing of the base dir."""
    return _begin(spark, base_path)[2]


#: Every table feature THIS engine implements. A commit whose state
#: depends on one of these records it in ``meta["require"]``; an engine
#: (this one, or an older/newer sibling operating the same table) that
#: does not implement a required feature must refuse the table rather
#: than misread it — Delta's protocol/table-features design: ignoring
#: deletion vectors resurrects deleted rows, ignoring column mapping
#: misreads renamed/dropped columns, skipping CHECK enforcement or txn
#: watermarks corrupts state on write.
_SUPPORTED_FEATURES = frozenset({
    "deletion-vectors",
    "column-mapping",
    "check-constraints",
    "txn-watermarks",
})


class UnsupportedTableFeatureError(ValueError):
    """A table's ``require`` list names features this engine lacks.

    A dedicated class (not bare ``ValueError``) because ``_meta``'s
    pyarrow fast path must re-raise exactly this while letting
    ``json.JSONDecodeError`` — which SUBCLASSES ``ValueError`` — fall
    through to the JVM read path on a quirky/torn fast-path read."""


def _check_features(meta: dict, base_path: str) -> dict:
    """Gate every meta load on the table's required-feature list: a
    table written by an engine version with features this one lacks is
    refused for BOTH read and write (coarse on purpose — the pre-
    table-features Delta protocol was the same — a reader-only tool may
    inspect ``require`` itself). Legacy metas without the key pass."""
    unknown = sorted(set(meta.get("require") or []) - _SUPPORTED_FEATURES)
    if unknown:
        raise UnsupportedTableFeatureError(
            f"table {base_path} requires table features this engine does "
            f"not implement: {unknown} (supported: "
            f"{sorted(_SUPPORTED_FEATURES)}) — refusing to read or write "
            "rather than misreport rows or corrupt state; operate this "
            "table with the engine version that owns those features"
        )
    return meta


def _meta(spark: SparkSession, base_path: str, version: int) -> dict:
    """Commit metadata json. Read through pyarrow.fs when the scheme
    allows (KB file; the py4j open/read round-trip costs more than the
    read — and ``_finish`` now reads the head's meta once per commit
    attempt for the txn watermark carry-forward, so this sits on every
    commit): same-bytes, falls back to the Hadoop FS path on schemes
    pyarrow doesn't speak. Missing-file errors surface unchanged. Every
    load passes the required-feature gate (:func:`_check_features`)."""
    path = f"{base_path}/meta/v={version}.json"
    ar = _arrow_fs(path)
    if ar is not None:
        fs, rel = ar
        try:
            with fs.open_input_stream(rel) as f:
                return _check_features(
                    json.loads(f.read().decode("utf-8")), base_path
                )
        except FileNotFoundError:
            raise
        except UnsupportedTableFeatureError:
            raise  # the feature gate: never fall through to a re-read
        except Exception:
            # scheme/permission quirk OR a torn fast-path read (note
            # json.JSONDecodeError subclasses ValueError, so the gate
            # re-raise above must stay class-exact): the JVM path decides
            pass
    return _check_features(json.loads(_read_text(spark, path)), base_path)


def _now_ms() -> int:
    """Commit wall-clock (epoch ms) — a seam so tests can fake clock
    regressions; ``_finish`` enforces per-table monotonicity on top."""
    import time as _time

    return int(_time.time() * 1000)


def _local_dir(path: str) -> str | None:
    """The local-filesystem directory behind ``path``, or None when it
    lives on a remote store. Gates the driver-side Arrow metadata paths;
    a deployment on s3/hdfs takes the Spark read path (or extends this
    through pyarrow.fs, which speaks both)."""
    if path.startswith("file:"):
        return path[len("file:"):]
    return None if "://" in path else path


_ARROW_FS_RESOLVERS: dict = {}


def register_arrow_fs(scheme: str, resolver):
    """Extend the driver-side Arrow metadata paths (:func:`_meta` reads,
    manifest loads, commit-manifest materialization, footer stats) to a
    URI scheme pyarrow's ``FileSystem.from_uri`` doesn't speak natively.
    ``resolver(path) -> (pyarrow.fs.FileSystem, fs-relative path)`` —
    e.g. map ``abfs://`` through ``pyarrow.fs.PyFileSystem(
    FSSpecHandler(adlfs_fs))``, or a test scheme through a
    ``SubTreeFileSystem``. Returns the previously registered resolver
    (or None) so callers can restore it. A scheme nothing resolves keeps
    the manifest a driver-side Arrow table all the same, read and written
    through Spark: each manifest load there is one ``toArrow()`` job
    (once a lazy read), and footer stats fall back to the ``_metadata``
    scan."""
    prev = _ARROW_FS_RESOLVERS.get(scheme)
    _ARROW_FS_RESOLVERS[scheme] = resolver
    return prev


def _arrow_fs(path: str):
    """``(pyarrow.fs.FileSystem, fs-relative path)`` for the driver-side
    metadata paths, or None when pyarrow has no connector for the
    scheme. Local paths resolve to LocalFileSystem; ``s3://`` and
    ``hdfs://`` resolve through pyarrow's own connectors (from_uri);
    other schemes resolve through :func:`register_arrow_fs` adapters —
    so the manifest read/materialize paths are one code path on every
    store pyarrow can reach. Anything unresolvable reads and writes its
    manifests through Spark."""
    try:
        from pyarrow import fs as pafs

        local = _local_dir(path)
        if local is not None:
            return pafs.LocalFileSystem(), local
        scheme = path.split("://", 1)[0]
        if scheme in _ARROW_FS_RESOLVERS:
            return _ARROW_FS_RESOLVERS[scheme](path)
        return pafs.FileSystem.from_uri(path)
    except Exception:
        return None


def _is_local_relation(df: DataFrame) -> bool:
    """True when the frame's optimized plan is a pure LocalRelation —
    driver-resident rows (createDataFrame / local_rows_df, possibly
    with optimizer-folded projections/filters on top) whose
    re-evaluation costs no cluster work. Gates the skip-the-persist and
    single-partition-agg fast paths in the merge: both only make sense
    when the batch provably lives on the driver.

    Memoized per DataFrame object: ``optimizedPlan()`` forces a full
    analyze+optimize of the plan via py4j — pure driver cost that grows
    with plan size — and a frame's LocalRelation-ness never changes, so
    the second and later probes of the same object are free. The memo
    is read from the instance dict and must be a ``bool``: attribute
    access would return a Column for a user column of the same name."""
    cached = vars(df).get("_tibame_is_local")
    if isinstance(cached, bool):
        return cached
    try:
        result = (
            df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
            == "LocalRelation"
        )
    except Exception:
        return False
    df._tibame_is_local = result
    return result


def _rows_to_arrow(rows: list[tuple], schema: StructType):
    """Driver-local rows as a pyarrow Table typed by the Spark schema,
    through the same pandas→Arrow conversion ``local_rows_df`` ships to
    the JVM, so the manifest rows and a frame built from them agree
    value-for-value. A failed conversion raises."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    pdf = pd.DataFrame.from_records(
        list(rows), columns=[f.name for f in schema.fields]
    ).astype(object)
    pdf = pdf.where(pd.notna(pdf), None)
    return pa.Table.from_pandas(
        pdf, schema=to_arrow_schema(schema), preserve_index=False
    ).replace_schema_metadata(None)


def _write_arrow_parquet(base_path: str, rel_dir: str, tbl) -> bool:
    """Write a driver-side pyarrow Table as ``<base_path>/<rel_dir>/
    part-00000.parquet`` (snappy — the same shape the distributed
    single-file writers produce). True on success; False when the store
    is Arrow-unreachable or the write failed (caller takes the Spark
    path). ``rel_dir`` must be attempt-unique — nothing is cleared."""
    resolved = _arrow_fs(base_path)
    if resolved is None:
        return False
    try:
        import pyarrow.parquet as pq

        fs, d = resolved
        out = f"{d.rstrip('/')}/{rel_dir}"
        fs.create_dir(out, recursive=True)
        pq.write_table(
            tbl.replace_schema_metadata(None),
            f"{out}/part-00000.parquet",
            compression="snappy", filesystem=fs,
        )
        return True
    except Exception:
        return False


def _read_arrow(spark: SparkSession, path: str):
    """A small metadata parquet dir (a manifest, a stage's added rows or
    bounds) as a driver-side pyarrow Table: read through
    :func:`_arrow_fs` with no Spark job. A store neither pyarrow nor
    :func:`register_arrow_fs` reaches (or a dir pyarrow cannot read)
    takes one Spark read ending in ``toArrow()`` — one job per load
    where a lazy read once cost none until its first action; no test or
    workload runs on such a store."""
    resolved = _arrow_fs(path)
    if resolved is not None:
        fs, d = resolved
        try:
            import pyarrow.dataset as ds

            return ds.dataset(d, format="parquet", filesystem=fs).to_table()
        except Exception:
            pass  # unreadable here: the Spark read raises properly
    return spark.read.parquet(path).toArrow()


def _materialize_manifest(
    spark: SparkSession, tbl, base_path: str, rel_dir: str
) -> None:
    """Write manifest rows (a pyarrow Table) to ``rel_dir`` as one snappy
    parquet file: the pre-claim materialization ``_finish`` renames into
    place, and a stage's added rows. One driver-side pyarrow write, no
    Spark job; a store pyarrow cannot write takes one single-file Spark
    write of the same rows."""
    if not _write_arrow_parquet(base_path, rel_dir, tbl):
        spark.createDataFrame(tbl).coalesce(1).write.mode("overwrite").parquet(
            f"{base_path}/{rel_dir}"
        )


def _load_manifest(spark: SparkSession, base_path: str, version: int):
    """A version's manifest as a driver-side pyarrow Table, normalized to
    carry ``dv_path`` (NULL) and ``schema_id`` (0) for manifests written
    before those columns existed — the add-column evolution of the
    manifest itself. The manifest is O(live files) rows, the relation
    every table format holds on the driver (Delta's log replay, Iceberg's
    manifest list): commits edit it in Arrow, consumers that evaluate SQL
    over it wrap it with ``spark.createDataFrame`` (a LocalRelation, so
    their actions scan nothing). On an Arrow-unreachable store the load
    is one ``toArrow()`` job (:func:`_read_arrow`)."""
    import pyarrow as pa

    tbl = _read_arrow(spark, f"{base_path}/manifest/v={version}")
    if "dv_path" not in tbl.schema.names:
        tbl = tbl.append_column(
            "dv_path", pa.nulls(tbl.num_rows, type=pa.string())
        )
    if "schema_id" not in tbl.schema.names:
        tbl = tbl.append_column(
            "schema_id", pa.array([0] * tbl.num_rows, type=pa.int32())
        )
    return tbl


def _edit_manifest(man, removed, added):
    """One commit's file edit on a manifest Table: drop the ``removed``
    paths (a NULL-path row drops too, as Spark's ``~isin`` filter drops
    it) and append the ``added`` rows. Column names must match, as a
    strict ``unionByName`` requires; differing types promote."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if removed:
        path = man.column("path")
        gone = pc.is_in(path, value_set=pa.array(list(removed), type=pa.string()))
        man = man.filter(
            pc.and_(pc.invert(pc.fill_null(gone, False)), pc.is_valid(path))
        )
    if added is not None:
        if set(added.schema.names) != set(man.schema.names):
            raise ValueError(
                f"manifest edit adds rows with columns {added.schema.names}; "
                f"the manifest has {man.schema.names}"
            )
        man = pa.concat_tables(
            [man, added.select(man.schema.names)], promote_options="permissive"
        )
    return man


def _manifest_files(spark: SparkSession, man, cols: list[str], *prunes):
    """The ``cols`` of a manifest's rows, kept by every non-None ``prunes``
    SQL expression (a NULL verdict keeps the row: the superset contract
    of ``prune=``). Without a prune the rows come straight off the Arrow
    table; a prune evaluates over ``spark.createDataFrame(man)``."""
    prunes = [p for p in prunes if p is not None]
    if not prunes:
        return man.select(cols).to_pylist()
    df = spark.createDataFrame(man)
    for p in prunes:
        df = df.where(F.coalesce(F.expr(p), F.lit(True)))
    return df.select(*cols).collect()


def _fields_from_schema(schema: StructType) -> list[dict]:
    """Field descriptors with POSITIONAL stable ids — the identity that
    survives renames and type widening (the field-id idea of the public
    table formats, carried in meta json instead of parquet field ids)."""
    return [
        {"id": i, "name": f.name, "type": f.dataType.jsonValue()}
        for i, f in enumerate(schema.fields)
    ]


def _schema_from_fields(fields: list[dict]) -> StructType:
    return StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {
                    "name": f["name"],
                    "type": f["type"],
                    "nullable": True,
                    "metadata": {},
                }
                for f in fields
            ],
        }
    )


def _type_from_json(tj) -> object:
    return _schema_from_fields([{"name": "x", "type": tj}])[0].dataType


def _registry(meta: dict) -> tuple[dict[int, list[dict]], int]:
    """The table's schema registry ``{schema_id: fields}`` and current id;
    synthesized for pre-evolution tables (every file is schema 0 with
    positional field ids — exactly how those files were written)."""
    if "schemas" in meta:
        return {int(k): v for k, v in meta["schemas"].items()}, meta["schema_id"]
    return {0: _fields_from_schema(StructType.fromJson(meta["schema"]))}, 0


def _projection(phys_fields: list[dict], cur_fields: list[dict]) -> list:
    """Columns lifting a file written under ``phys_fields`` into the
    current schema: match by field id → rename + widen-cast; ids absent
    from the file (added after it was written) read as NULL. A field
    whose name and type did not change is selected by name: a cast and
    alias would cost py4j round-trips per column and read."""
    by_id = {f["id"]: f for f in phys_fields}
    cols = []
    for f in cur_fields:
        p = by_id.get(f["id"])
        if p is not None and (p["name"], p["type"]) == (f["name"], f["type"]):
            cols.append(f["name"])
            continue
        t = _type_from_json(f["type"])
        if p is None:
            cols.append(F.lit(None).cast(t).alias(f["name"]))
        else:
            cols.append(F.col(p["name"]).cast(t).alias(f["name"]))
    return cols


def _by_schema_id(files: list) -> dict[int, list[tuple]]:
    groups: dict[int, list[tuple]] = {}
    for f in files:
        try:
            sid = f["schema_id"]
        except (KeyError, ValueError):
            sid = 0
        groups.setdefault(int(sid if sid is not None else 0), []).append(
            (f["path"], f["dv_path"])
        )
    return groups


def _data_path(base_path: str, p: str) -> str:
    """Resolve a manifest ``path``/``dv_path`` entry to a readable
    location: normally table-relative, but a SHALLOW CLONE's manifest
    references its SOURCE's files absolutely (``/``-rooted or
    scheme-qualified — Delta's clone design), read in place with zero
    bytes copied. Vacuum/retention only ever sweep files under the
    table's own root, so external entries are never deleted by the
    clone's lifecycle."""
    return (
        p
        if p.startswith("/") or "://" in p or p.startswith("file:")
        else f"{base_path}/{p}"
    )


_TRAIL_RE = None


def _trail(p: str) -> str:
    """The table-relative TRAILING form (``data/<dir>/<file>``) of a
    data path — the join identity DV sidecars and ``_metadata``-derived
    paths use. For a normal table this IS the manifest path verbatim; a
    shallow clone's absolute source paths reduce to the same trailing
    form the source's sidecars already carry (unique in practice: data
    dirs are random tokens)."""
    global _TRAIL_RE
    if _TRAIL_RE is None:
        import re as _re

        _TRAIL_RE = _re.compile(r"(data/[^/]+/[^/]+)$")
    m = _TRAIL_RE.search(p)
    return m.group(1) if m else p


def _read_dv_sidecars(
    spark: SparkSession, base_path: str, dirs: list[str], key_type
) -> DataFrame:
    """All DV sidecar dirs as ONE scan with a known schema (no inference
    job): the parquet reader itself promotes the ``__key`` of sidecars
    written before a widening (every :data:`_WIDEN_OK` pair, vectorized
    or not) to the CURRENT ``key_type``."""
    schema = StructType(
        [StructField("__path", StringType()), StructField("__key", key_type)]
    )
    return spark.read.schema(schema).parquet(
        *[_data_path(base_path, d) for d in dirs]
    ).select(F.col("__path").alias("__dvp"), "__key")


def _trail_col(c: str = "_metadata.file_path"):
    """The trailing ``data/<dir>/<file>`` form (:func:`_trail`) of a
    file-path column: a scan's ``_metadata.file_path`` by default."""
    return F.regexp_extract(F.col(c), r"(data/[^/]+/[^/]+)$", 1)


def _scan_eras(
    spark: SparkSession,
    base_path: str,
    files: list,
    registry: dict[int, list[dict]],
    cur_fields: list[dict],
    *,
    path: bool = False,
) -> DataFrame | None:
    """``files`` (manifest rows/dicts with ``path``, ``dv_path`` and
    optionally ``schema_id``) as ONE frame in the schema ``cur_fields``:
    per schema era, one read with the era's physical schema lifted by
    field id (:func:`_projection`), eras unioned by name. ``path=True``
    adds each row's file as ``__path`` (trailing form, from
    ``_metadata``); without it the read never touches ``_metadata``.
    Deletion vectors are not applied. None when ``files`` is empty."""
    out = None
    for sid, members in sorted(_by_schema_id(files).items()):
        cols = _projection(registry[sid], cur_fields)
        if path:
            cols.append(_trail_col().alias("__path"))
        df = (
            spark.read.schema(_schema_from_fields(registry[sid]))
            .parquet(*[_data_path(base_path, p) for p, _ in members])
            .select(*cols)
        )
        out = df if out is None else out.unionByName(df)
    return out


def _read_live(
    spark: SparkSession,
    base_path: str,
    files: list,
    meta: dict,
) -> DataFrame:
    """The LIVE rows of a set of manifest entries, in the table's CURRENT
    schema (:func:`_scan_eras`: per-era reads projected by field id —
    rename + widen-cast + NULL-fill); files WITH a deletion vector also
    read their ``_metadata`` path and one anti-join against the
    referenced sidecars (one known-schema scan of every sidecar dir,
    :func:`_read_dv_sidecars` — building the frame launches no job)
    drops condemned keys — broadcast-hinted only while the sidecars stay
    under :data:`_BROADCAST_MAX_BYTES` (sizes from the filesystem
    listing, driver metadata; above the bound AQE picks the join).
    ``files`` is a list of manifest rows/dicts with ``path``,
    ``dv_path``, and (optionally) ``schema_id``."""
    registry, cur_id = _registry(meta)
    cur_fields = registry[cur_id]
    dv_key = meta.get("dv_key")
    dvd = [f for f in files if f["dv_path"]]
    out = _scan_eras(
        spark, base_path, [f for f in files if not f["dv_path"]],
        registry, cur_fields,
    )
    if dvd:
        if dv_key is None:
            raise ValueError(
                "manifest has deletion-vectored files but meta carries "
                "no dv_key — corrupt table state"
            )
        dirs = sorted({f["dv_path"] for f in dvd})
        key_type = dict(
            (f["name"], _type_from_json(f["type"])) for f in cur_fields
        )[dv_key]
        dv = _read_dv_sidecars(spark, base_path, dirs, key_type)
        fs, _, jvm = _fs_for(spark, base_path)
        dv_bytes = sum(
            fs.getContentSummary(
                _hadoop_path(jvm, _data_path(base_path, d))
            ).getLength()
            for d in dirs
        )
        if dv_bytes <= _BROADCAST_MAX_BYTES:
            dv = F.broadcast(dv)
        raw = _scan_eras(spark, base_path, dvd, registry, cur_fields, path=True)
        alive = raw.join(
            dv,
            (raw["__path"] == F.col("__dvp"))
            & (raw[dv_key] == F.col("__key")),
            "left_anti",
        ).drop("__path")
        out = alive if out is None else out.unionByName(alive)
    if out is None:
        return local_rows_df(spark, [], _schema_from_fields(cur_fields))
    return out


class ConcurrentCommitError(RuntimeError):
    """A commit lost its optimistic-concurrency race in a way that cannot
    be auto-rebased: the concurrent commit rewrote/repointed files this
    commit also read, touched this commit's key range, changed the schema,
    created the table first, pruned history the rebase needed, is an
    exclusive operation (full refresh / restore), or a claim marker looks
    abandoned. The operation was NOT applied — re-derive against the new
    head and retry (or run :func:`recover_manifest_table` for a stale
    claim)."""


#: How long a claim may be held without its commit marker appearing
#: before waiters declare it abandoned. Measured from the claim FILE's
#: modification time, never from the waiter's arrival — a healthy busy
#: table can keep a waiter losing races far longer than any one claimed
#: window, and that must not read as a crash. The claimed window itself
#: is a handful of filesystem metadata ops (the manifest is materialized
#: to ``manifest_tmp/`` BEFORE the claim and only renamed inside it), so
#: anything near this bound is a genuinely crashed writer.
_CLAIM_WAIT_S = 30.0
_CLAIM_POLL_S = 0.25


class CommitFS:
    """The ONE filesystem primitive the commit protocol's correctness
    rests on: **atomic create-new** — create the file iff it does not
    exist, all-or-nothing against every concurrent caller. Claim markers,
    commit markers, and tag pins all publish through it.

    The default implementation is :func:`_create_new`: ``O_CREAT |
    O_EXCL`` on local (``file:``) paths, Hadoop's ``fs.create(path,
    overwrite=False)`` elsewhere. Hadoop's create-new IS atomic on HDFS
    and ABFS, but NOT on its local filesystem (it checks, then creates)
    nor on S3A or GCS connectors without conditional-write support:
    eventual-consistency-era S3A implements create-new as a non-atomic
    exists-then-put, so two racing writers can both "win" a claim and
    corrupt a version. This is exactly the problem Delta Lake solves
    with its pluggable LogStore. Deploying on such a store requires
    installing an adapter here (:func:`set_commit_fs`) that maps
    ``create_new`` onto a real conditional put (S3 ``If-None-Match``,
    GCS ``ifGenerationMatch=0``, or a DynamoDB-class coordination
    table). See SCALE.md for the deployment matrix."""

    def create_new(self, fs, path, data: bytes = b"") -> None:
        """Atomically create ``path`` with ``data`` (empty for markers);
        MUST raise if the path already exists, with no partial state."""
        _create_new(fs, path, data)

    def delete(self, fs, path) -> bool:
        """Delete a path this seam created (claim release, retention
        prune of markers, tag drop). Adapters that hold exclusivity in
        an EXTERNAL coordination store must clear their coordination
        entry here too — the protocol releases and prunes exclusively
        through this method, so a direct ``fs.delete`` would strand the
        entry and wedge the next claim of the same path. Returns whether
        anything was deleted."""
        return fs.delete(path, False)


_COMMIT_FS = CommitFS()


def set_commit_fs(impl: CommitFS) -> CommitFS:
    """Install a :class:`CommitFS` adapter (conditional-put for object
    stores without atomic create-new); returns the previous one so
    callers can restore it."""
    global _COMMIT_FS
    prev, _COMMIT_FS = _COMMIT_FS, impl
    return prev


def _is_file_not_found(exc: BaseException) -> bool:
    """True iff ``exc`` is a missing-file error (Python's
    ``FileNotFoundError`` or a Py4J-wrapped ``java.io.FileNotFoundException``
    chain) — the ONLY exception class that means "the claim was released".
    Everything else (IO, permission, RPC) is a real filesystem failure and
    must surface as itself."""
    if isinstance(exc, FileNotFoundError):
        return True
    java_exc = getattr(exc, "java_exception", None)
    while java_exc is not None:
        try:
            if "FileNotFoundException" in java_exc.getClass().getName():
                return True
            java_exc = java_exc.getCause()
        except Exception:
            break
    return "FileNotFoundException" in str(exc)


def _await_claim(fs, jvm, base_path: str, version: int) -> None:
    """Wait out ``version``'s claimed metadata window: return once the
    version's commit marker appears OR its claim vanishes (either way the
    caller re-lists and retries against the new state). A claim file
    older than :data:`_CLAIM_WAIT_S` with no marker is a crashed writer —
    raise with the recovery hint."""
    import time as _time

    claim = _hadoop_path(jvm, f"{base_path}/{_CLAIM_PREFIX}{version}")
    marker = _hadoop_path(jvm, f"{base_path}/{_COMMIT_PREFIX}{version}")
    stat_errors = 0
    while not fs.exists(marker):
        try:
            age_ms = (
                _time.time() * 1000.0
                - fs.getFileStatus(claim).getModificationTime()
            )
        except Exception as exc:
            if _is_file_not_found(exc):
                # the holder failed and RELEASED its claim (or a tagger
                # finished its claimed window): retry now
                return
            # a REAL filesystem failure (IO/permission) is not a released
            # claim — treating it as one turns an outage into a silent
            # busy rebase loop that exhausts _MAX_REBASES and reports
            # misleading "sustained contention". Retry a few times for
            # transient blips, then surface the error as itself.
            stat_errors += 1
            if stat_errors > 3:
                raise
            _time.sleep(_CLAIM_POLL_S)
            continue
        stat_errors = 0
        if age_ms > _CLAIM_WAIT_S * 1000.0:
            raise ConcurrentCommitError(
                f"{_CLAIM_PREFIX}{version} under {base_path} is held but "
                f"its commit marker never appeared within {_CLAIM_WAIT_S:.0f}s "
                "of the claim — a writer likely crashed mid-publish; once "
                "no writer is live, run recover_manifest_table() and retry"
            )
        _time.sleep(_CLAIM_POLL_S)
#: Upper bound on rebase attempts under sustained contention — each retry
#: re-derives against a head another writer just moved.
_MAX_REBASES = 10

#: Test seam: when set, called once at the top of the next ``_finish`` —
#: lets a test inject a concurrent commit deterministically between an
#: operation's read phase and its publish.
_TEST_COMMIT_RACE_HOOK = None

#: Test seam: when set, called once between ``_finish``'s manifest
#: materialization and its claim — the window a slow stats job opens,
#: where enough concurrent commits can land that retention prunes this
#: version's own markers (the post-claim head re-check exists for this).
_TEST_PRECLAIM_HOOK = None


def _token() -> str:
    import uuid

    return uuid.uuid4().hex[:12]


def _check_rebase(
    spark: SparkSession,
    base_path: str,
    base_head: int,
    head: int,
    removed: frozenset,
    bounds: tuple | None,
    base_schema: StructType,
    stats_cols: list[str],
    bloom: dict | None,
    dv_key: str | None,
) -> str | None:
    """Decide whether a commit prepared against ``base_head`` can be
    replayed verbatim on top of ``head`` (written by concurrent winners).
    Safe iff no intervening commit (a) rewrote or DV-repointed a file this
    commit read (``removed`` — its read set IS its replace set), (b)
    touched any file overlapping this commit's key ``bounds`` (a merge or
    delete must see every row of its keyspace — Delta's
    ConcurrentAppendException class), or (c) changed schema / stats /
    bloom config. Returns the dv_key to commit with (inheriting a
    concurrent first-delete's key when this commit carries none); raises
    :class:`ConcurrentCommitError` otherwise."""
    try:
        base_meta = _meta(spark, base_path, base_head)
        head_meta = _meta(spark, base_path, head)
    except Exception as e:
        raise ConcurrentCommitError(
            f"cannot rebase commit from v{base_head} onto v{head} under "
            f"{base_path}: history needed for the conflict check is gone "
            f"({e}) — retry the operation against the new head"
        ) from e
    if head_meta["stats_cols"] != stats_cols or head_meta.get("bloom") != bloom:
        raise ConcurrentCommitError(
            f"concurrent commit changed stats/bloom config under {base_path}"
        )
    if head_meta["schema"] != base_meta["schema"]:
        raise ConcurrentCommitError(
            f"concurrent commit changed the table schema under {base_path} "
            f"between v{base_head} and v{head} — re-derive and retry"
        )
    theirs = head_meta.get("dv_key")
    if dv_key is None:
        dv_key = theirs
    elif theirs is not None and theirs != dv_key:
        raise ConcurrentCommitError(
            f"concurrent commit fixed the deletion-vector key to {theirs!r}; "
            f"this commit uses {dv_key!r}"
        )
    col = bounds[0] if bounds else None

    def rows_of(v: int) -> dict:
        # through Spark, not to_pylist: the stat values compare with the
        # bounds the batch aggregate collected, and Arrow would hand back
        # tz-aware datetimes where Spark collects naive ones
        cols = ["path", "dv_path"] + (
            [f"min_{col}", f"max_{col}"] if col else []
        )
        man = _load_manifest(spark, base_path, v).select(cols)
        return {r["path"]: r for r in spark.createDataFrame(man).collect()}

    try:
        prev = rows_of(base_head)
        for v in range(base_head + 1, head + 1):
            cur = rows_of(v)
            their_removed = prev.keys() - cur.keys()
            their_added = cur.keys() - prev.keys()
            their_dvmod = {
                p
                for p in cur.keys() & prev.keys()
                if cur[p]["dv_path"] != prev[p]["dv_path"]
            }
            clash = removed & (their_removed | their_dvmod)
            if clash:
                raise ConcurrentCommitError(
                    f"concurrent commit v{v} under {base_path} rewrote or "
                    f"repointed files this commit also read: "
                    f"{sorted(clash)[:3]} — re-derive and retry"
                )
            if bounds is not None:
                _, lo, hi = bounds
                for p in their_added | their_dvmod | their_removed:
                    r = cur.get(p) or prev.get(p)
                    mn, mx = r[f"min_{col}"], r[f"max_{col}"]
                    if mn is None or mx is None or (mn <= hi and mx >= lo):
                        raise ConcurrentCommitError(
                            f"concurrent commit v{v} under {base_path} "
                            f"touched file {p} overlapping this commit's "
                            f"key range [{lo!r}, {hi!r}] on {col} — "
                            "re-derive and retry"
                        )
            prev = cur
    except ConcurrentCommitError:
        raise
    except Exception as e:
        raise ConcurrentCommitError(
            f"cannot rebase commit from v{base_head} onto v{head} under "
            f"{base_path}: an intervening manifest is unreadable ({e})"
        ) from e
    return dv_key


def _finish(
    spark: SparkSession,
    base_path: str,
    *,
    schema: StructType,
    stats_cols: list[str],
    keep: int,
    base_head: int | None,
    full_manifest=None,
    removed: frozenset = frozenset(),
    added=None,
    bounds: tuple | None = None,
    dv_key: str | None = None,
    bloom: dict | None = None,
    op: str | None = None,
    schemas: dict | None = None,
    schema_id: int = 0,
    txn: tuple[str, int] | None = None,
    drop_txns: frozenset = frozenset(),
    constraints: dict | None = None,
    require_constraints: dict | None = None,
    null_stats: bool = False,
) -> int:
    """Publish a prepared commit with optimistic concurrency (version-CAS):

    1. list → current head ``h``; if ``h`` moved past ``base_head``,
       either conflict loudly or REBASE — replay this commit's
       (``removed``, ``added``) file edit on top of ``h``'s manifest,
       gated by :func:`_check_rebase` (append∘append commutes; merges or
       deletes with intersecting read sets / key ranges raise);
       ``full_manifest`` commits (create, full refresh, restore) are
       exclusive and never rebase;
    2. EDIT the manifest — a driver-side pyarrow Table from load to
       write: the head's rows minus ``removed`` plus ``added`` (already
       computed: :func:`_file_stats` ran any stats scan before this call)
       — and MATERIALIZE it to an attempt-unique
       ``manifest_tmp/c=<token>`` dir, deliberately OUTSIDE any claim, so
       the claimed window is pure filesystem metadata. On a local or
       Arrow-reachable store this step runs no Spark job; on an
       Arrow-unreachable one the head load is one ``toArrow()`` job and
       the write one Spark write (:func:`_materialize_manifest`);
    3. atomically CLAIM version ``h+1`` (create-new ``_CLAIM_v<n>``,
       through the :class:`CommitFS` seam) — the claim serializes only
       the metadata window, so losing it means waiting for that
       version's marker (:func:`_await_claim`, bounded by the claim
       file's AGE) and looping back to (1); a claim whose commit never
       appears is a crashed writer (:func:`recover_manifest_table`);
    4. under the claim: RENAME the materialized manifest into place →
       meta json → tag-aware retention prune → ``_COMMIT_v<n>`` marker
       (the commit). The prune runs BEFORE the marker on purpose: a
       tagger that observed head == n has therefore observed commit
       ``n``'s prune already complete, and the next prune needs the
       claim the tagger itself holds — which closes the tag-vs-prune
       race (a tag can never land on metadata a racing commit is about
       to delete). A crash between prune and marker costs at most one
       RETAINED version (the table briefly keeps ``keep-1`` old
       versions), never a committed one.

    Data files and DV sidecars live in attempt-unique ``data/c=<token>``
    dirs written BEFORE this function, so racing writers never contend on
    data paths and losers' files are simply never referenced (vacuum
    reclaims them, as it does crashed attempts' ``manifest_tmp`` dirs).
    Data files are NEVER pruned here — older retained manifests may
    reference them. ``dv_key`` records the table's deletion-vector key
    column (fixed at first delete) so reads know which column the
    sidecars condemn."""
    global _TEST_COMMIT_RACE_HOOK
    if _TEST_COMMIT_RACE_HOOK is not None:
        hook, _TEST_COMMIT_RACE_HOOK = _TEST_COMMIT_RACE_HOOK, None
        hook()
    fs, base, jvm = _fs_for(spark, base_path)
    tmp_dir = f"manifest_tmp/c={_token()}"
    tmp = _hadoop_path(jvm, f"{base_path}/{tmp_dir}")
    try:
        for _attempt in range(_MAX_REBASES):
            listing = list(fs.listStatus(base)) if fs.exists(base) else []
            committed = _committed_versions(listing)
            head = max(committed) if committed else None
            # idempotent-transaction watermarks (Delta's txnAppId /
            # txnVersion public design): meta carries a per-application
            # high-water mark, re-read from the ACTUAL head every loop
            # iteration — a rebase means concurrent commits landed, and
            # one of them may have been this very transaction racing from
            # another attempt. The map is carried forward by EVERY commit
            # kind (a compact between a batch and its replay must not
            # drop the watermark), and is monotone: RESTORE carries the
            # pre-restore head's map, so replayed batches never
            # double-apply into a restored table.
            head_txns: dict[str, int] = {}
            head_txn_ts: dict[str, int] = {}
            head_ts = 0
            if head is not None:
                try:
                    hm = _meta(spark, base_path, head)
                except Exception as e:
                    # ONLY a vanished meta is tolerable here: the head was
                    # pruned by >=keep concurrent commits between the
                    # listing and this read (its marker went with it, so
                    # the under-claim re-list forces a rebase before
                    # anything publishes). Anything else must FAIL the
                    # commit loudly — continuing with an empty map would
                    # fail OPEN: the replay check passes (duplicate
                    # batch), the carry-forward writes meta without txns
                    # (every app's replay protection erased), and head_ts
                    # resets so a skewed clock can break as-of ordering.
                    if not _is_file_not_found(e):
                        raise
                    hm = {}
                head_txns = {
                    k: int(v) for k, v in hm.get("txns", {}).items()
                }
                head_txn_ts = {
                    k: int(v) for k, v in hm.get("txn_ts", {}).items()
                }
                head_ts = int(hm.get("ts", 0))
                head_cons = hm.get("constraints") or {}
                # the null-stats flag is a create-time table property:
                # carry it forward like constraints so every commit kind
                # preserves it without per-call-site plumbing
                null_stats = null_stats or bool(hm.get("null_stats"))
            else:
                head_cons = {}
            if txn is not None and head_txns.get(str(txn[0]), -1) >= int(txn[1]):
                return head  # replayed batch: already applied, no-op
            # row-writing commits gate their batch against the CHECK
            # constraint set they READ; if the set changed since (an
            # add_manifest_constraint is a zero-file-edit commit the
            # rebase path would otherwise wave through), the batch was
            # never validated against the new rule — refuse, under the
            # same CAS that makes the txn check airtight
            if require_constraints is not None and head_cons != require_constraints:
                raise ConcurrentCommitError(
                    f"CHECK constraint set changed while this commit was in "
                    f"flight under {base_path} (validated against "
                    f"{sorted(require_constraints)}, head now has "
                    f"{sorted(head_cons)}) — revalidate/re-stage against "
                    "the current head"
                )
            if head != base_head:
                if base_head is None:
                    raise ConcurrentCommitError(
                        f"manifest table under {base_path} was created by a "
                        "concurrent writer — read the new head instead"
                    )
                if full_manifest is not None:
                    raise ConcurrentCommitError(
                        f"exclusive commit ({op}) prepared against v{base_head} "
                        f"but head is now v{head} under {base_path} — re-derive "
                        "and retry"
                    )
                dv_key = _check_rebase(
                    spark, base_path, base_head, head, removed, bounds,
                    schema, stats_cols, bloom, dv_key,
                )
                manifest = _load_manifest(spark, base_path, head)
            elif full_manifest is not None:
                manifest = full_manifest
            else:
                manifest = _load_manifest(spark, base_path, base_head)
            if full_manifest is None:
                manifest = _edit_manifest(manifest, removed, added)
            version = (head if head is not None else -1) + 1
            # a prior rebase attempt may have materialized through a
            # DIFFERENT writer (distributed part-<uuid> files vs the Arrow
            # writer's fixed part-00000.parquet) — clear the dir so no
            # attempt can publish a mix of stale pre-rebase rows and fresh
            # ones
            if _attempt and fs.exists(tmp) and not fs.delete(tmp, True):
                raise IOError(
                    f"could not clear {tmp_dir} before rebase attempt "
                    f"{_attempt} under {base_path}"
                )
            # materialize BEFORE claiming (docstring step 2): the claimed
            # window below is pure filesystem metadata, so _CLAIM_WAIT_S
            # bounds a rename + two small writes + a prune — not a job
            _materialize_manifest(spark, manifest, base_path, tmp_dir)
            global _TEST_PRECLAIM_HOOK
            if _TEST_PRECLAIM_HOOK is not None:
                hook, _TEST_PRECLAIM_HOOK = _TEST_PRECLAIM_HOOK, None
                hook()
            claim = _hadoop_path(jvm, f"{base_path}/{_CLAIM_PREFIX}{version}")
            try:
                _COMMIT_FS.create_new(fs, claim)  # create-new = the claim
            except Exception:
                # lost the claim: its holder is publishing this version
                # right now — wait for its marker (or released claim),
                # then rebase against whatever the head became
                _await_claim(fs, jvm, base_path, version)
                continue
            # The list→claim gap above spans the whole materialization
            # job (minutes on a big commit). If ≥keep concurrent commits
            # landed inside it, the newest one's retention prune deleted
            # _CLAIM_v<version> and _COMMIT_v<version>, so create_new just
            # succeeded on an ALREADY-COMMITTED version — publishing would
            # silently drop every commit since `head` and resurrect a
            # pruned version for time travel. Re-list under the claim and
            # only publish if the head is still the one this commit was
            # derived against; otherwise release and rebase.
            relist = list(fs.listStatus(base)) if fs.exists(base) else []
            recommitted = _committed_versions(relist)
            if (max(recommitted) if recommitted else -1) != version - 1:
                _COMMIT_FS.delete(fs, claim)
                continue
            # we own this version number exclusively: publish — and
            # release the claim if anything inside the window fails (a
            # transient write error must not wedge the table behind a
            # stale claim)
            try:
                dst = _hadoop_path(jvm, f"{base_path}/manifest/v={version}")
                fs.mkdirs(dst.getParent())
                if fs.exists(dst):
                    # a previous claim-holder crashed after its rename but
                    # before its marker; we own the claim and no marker
                    # exists for this version, so the dir is dead weight
                    fs.delete(dst, True)
                if not fs.rename(tmp, dst):
                    raise IOError(
                        f"rename {tmp_dir} -> manifest/v={version} failed "
                        f"under {base_path}"
                    )
                meta = {"schema": schema.jsonValue(), "stats_cols": stats_cols}
                if schemas is not None:
                    # schema registry (field ids → rename/widen evolution):
                    # meta carries every physical schema files were written
                    # under
                    meta["schemas"] = {str(k): v for k, v in schemas.items()}
                    meta["schema_id"] = schema_id
                if op is not None:
                    meta["op"] = op
                if dv_key is not None:
                    meta["dv_key"] = dv_key
                if bloom is not None:
                    meta["bloom"] = bloom
                if null_stats:
                    meta["null_stats"] = True
                # commit timestamp for TIMESTAMP-AS-OF reads: wall clock,
                # forced monotone per table (commits serialize through the
                # claim, but wall clocks may regress between writers —
                # Delta canonicalizes commit times the same way)
                meta["ts"] = max(_now_ms(), head_ts + 1)
                txns = {
                    k: v for k, v in head_txns.items() if k not in drop_txns
                }
                txn_ts = dict(head_txn_ts)
                if txn is not None:
                    app = str(txn[0])
                    txns[app] = max(int(txn[1]), txns.get(app, -1))
                    # per-app last-activity stamp: what expire_txns ages
                    # by, so a decommissioned stream's watermark can be
                    # dropped without touching live writers'
                    txn_ts[app] = meta["ts"]
                if txns:
                    meta["txns"] = txns
                    meta["txn_ts"] = {
                        k: txn_ts.get(k, 0) for k in txns
                    }
                # CHECK constraints carry forward like dv_key; None =
                # inherit the head's, a dict = explicit override (create,
                # add_/drop_manifest_constraint)
                cons = constraints if constraints is not None else head_cons
                if cons:
                    meta["constraints"] = cons
                # required-feature list (Delta's table-features design),
                # recomputed from the state this commit actually carries:
                # an engine lacking one of these must refuse the table
                # (_check_features gates every meta load). Self-healing:
                # dropping the last constraint / expiring the last txn
                # retires its flag.
                req = []
                if dv_key is not None:
                    req.append("deletion-vectors")
                if schemas is not None and len(schemas) > 1:
                    req.append("column-mapping")
                if cons:
                    req.append("check-constraints")
                if txns:
                    req.append("txn-watermarks")
                if req:
                    meta["require"] = req
                _write_text(
                    spark, f"{base_path}/meta/v={version}.json", json.dumps(meta)
                )
                # tag-aware retention prune, BEFORE the marker (docstring
                # step 4 — what serializes tagging against pruning).
                # heartbeat: the claimed window now includes the tags read
                # plus per-file deletes; on a slow object store with many
                # versions that can outlast _CLAIM_WAIT_S, so touch the
                # claim's mtime between batches — _await_claim ages claims
                # by mtime, so a heartbeating holder never looks crashed.
                def _heartbeat() -> None:
                    import time as _time

                    try:
                        now = int(_time.time() * 1000)
                        fs.setTimes(claim, now, -1)
                    except Exception:
                        pass  # best-effort; a missed beat only shortens slack

                floor = version - keep
                if floor >= 0:
                    _heartbeat()
                    try:
                        tagged = set(_manifest_tags(spark, base_path).values())
                    except Exception:
                        # a corrupt/partial tag file (crashed tagger)
                        # cannot name the version it pins — skip pruning
                        # entirely (always safe; housekeeping resumes once
                        # the file is repaired or delete_manifest_tag'd)
                        tagged = None
                else:
                    tagged = None
                if floor >= 0 and tagged is not None:
                    pruned = 0
                    for status in list(fs.listStatus(base)):
                        name = status.getPath().getName()
                        for pref in (_COMMIT_PREFIX, _CLAIM_PREFIX):
                            mv = _version_suffix(name, pref)
                            if mv is not None and mv <= floor and mv not in tagged:
                                _COMMIT_FS.delete(fs, status.getPath())
                                pruned += 1
                                if pruned % 64 == 0:
                                    _heartbeat()
                    for sub in ("manifest", "meta"):
                        subp = _hadoop_path(jvm, f"{base_path}/{sub}")
                        if fs.exists(subp):
                            for status in fs.listStatus(subp):
                                name = status.getPath().getName()
                                sv = _version_suffix(name, "v=")
                                if sv is None and name.startswith("v=") and name.endswith(".json"):
                                    tail = name[len("v=") : -len(".json")]
                                    sv = int(tail) if tail.isdigit() else None
                                if sv is not None and sv <= floor and sv not in tagged:
                                    fs.delete(status.getPath(), True)
                                    pruned += 1
                                    if pruned % 64 == 0:
                                        _heartbeat()
                marker = _hadoop_path(jvm, f"{base_path}/{_COMMIT_PREFIX}{version}")
                _COMMIT_FS.create_new(fs, marker)  # create-new = the commit
            except BaseException:
                _COMMIT_FS.delete(fs, claim)
                raise
            return version
        raise ConcurrentCommitError(
            f"gave up after {_MAX_REBASES} rebase attempts under {base_path} — "
            "sustained contention; retry the operation"
        )
    finally:
        try:
            if fs.exists(tmp):
                fs.delete(tmp, True)
        except Exception:
            pass  # a leaked tmp dir is vacuum's to reclaim, never an error


def recover_manifest_table(
    spark: SparkSession, base_path: str, *, min_age_s: float | None = None
) -> int:
    """Remove claim markers whose commit never appeared — the recovery
    verb for a writer that crashed inside the claimed metadata window
    (filesystem ops only since r10 — the manifest materializes before
    the claim), which otherwise blocks all future commits at that
    version. ONLY run when no writer is live on the table: a claim this
    deletes while its holder is still publishing would let two writers
    own one version. ``min_age_s`` is the belt-and-braces form for
    automated recovery (a cron next to possibly-live writers): claims
    YOUNGER than the threshold are spared — pair it with a value
    comfortably above :data:`_CLAIM_WAIT_S` so only claims every waiter
    has already given up on are cleared. Returns the number of claims
    removed."""
    import time as _time

    fs, base, jvm = _fs_for(spark, base_path)
    if not fs.exists(base):
        return 0
    floor_ms = (
        (_time.time() - min_age_s) * 1000.0 if min_age_s is not None else None
    )
    removed = 0
    for st in fs.listStatus(base):
        name = st.getPath().getName()
        v = _version_suffix(name, _CLAIM_PREFIX)
        if v is None or (
            floor_ms is not None and st.getModificationTime() > floor_ms
        ):
            continue
        if not fs.exists(
            _hadoop_path(jvm, f"{base_path}/{_COMMIT_PREFIX}{v}")
        ):
            _COMMIT_FS.delete(fs, st.getPath())
            removed += 1
    return removed


#: Spark types whose parquet footer statistics this engine decodes for
#: the metadata-only stats path. Deliberately excludes float/double (a
#: NaN anywhere makes parquet min/max undefined — the format's own
#: caveat), decimal (scale/unscaled binary decoding), and timestamps
#: (unit/timezone coupling): those fall back to the scan path, which is
#: always correct.
_FOOTER_STATS_KINDS = frozenset(
    "boolean tinyint smallint int bigint string date".split()
)


#: The confs of :func:`_in_clone`'s session. AQE off: the fused plans
#: run in one partition and the scalar bounds aggregate ends in one, so
#: AQE has nothing to adapt (no partition count to coalesce, no join to
#: re-plan), but it runs every stage as its own job.
#: ``maxSinglePartitionBytes`` unbounded: the fuse gates bound a fused
#: plan's REAL input bytes (≤ :data:`_MERGE_FUSE_MAX_BYTES`), but
#: Catalyst's join-output estimate MULTIPLIES child estimates — a
#: KB-scale broadcast join is routinely estimated in the hundreds of MB
#: — and EnsureRequirements then shuffles the SinglePartition away
#: (SPARK-41986's parallelism safety net), re-inserting exactly the
#: exchanges the fusion removed. The engine knows the true bytes; the
#: estimator does not.
_CLONE_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.maxSinglePartitionBytes": str((1 << 63) - 1),
}


def _in_clone(*frames: DataFrame) -> list[DataFrame]:
    """``frames`` re-rooted in a ``cloneSession()`` of their session,
    which alone carries :data:`_CLONE_CONFS`: the caller's session keeps
    its confs, so a query a concurrent writer plans in it keeps AQE and
    the single-partition safety net. The clone copies the runtime confs
    (time zone, ANSI, codecs — ``newSession()`` would drop them) and
    shares the CacheManager, so a frame persisted in the parent is a
    cache hit here. One clone serves every call while the session's
    runtime confs stay as they were when it was cloned; any change makes
    a fresh clone (a clone per call cost the ``table_commits`` benchmark
    about 9% more CPU a pass on a 4-core host). Attach an
    ``Observation`` only AFTER the move: the clone
    copies just the execution listeners its parent had when cloned, so
    one attached in the parent may never fire for an action run here.

    The frames keep the caller's Python session object: a Python
    ``SparkSession`` built around the clone would re-point
    ``RDD.toDF`` at it, process-wide."""
    parent = frames[0].sparkSession
    jparent = parent._jsparkSession
    confs = jparent.conf().getAll()
    memo = vars(parent).get("_tibame_clone")
    if memo is None or not memo[0].equals(confs):
        jclone = jparent.cloneSession()
        for k, v in _CLONE_CONFS.items():
            jclone.conf().set(k, v)
        memo = parent._tibame_clone = (confs, jclone)
    of_rows = _jvm_class(
        parent._jvm, "org.apache.spark.sql.classic.Dataset"
    ).ofRows
    return [
        DataFrame(of_rows(memo[1], f._jdf.queryExecution().analyzed()), parent)
        for f in frames
    ]


def _truncate_string_stats(mn, mx):
    """The scan path's string-stats truncation contract, in Python: min
    truncates to a prefix (still a lower bound); max appends U+10FFFF to
    its prefix (still an upper bound) except when the first truncated
    char IS U+10FFFF, where the full value is kept."""
    n, top = _STATS_STRING_MAX, chr(0x10FFFF)
    if mn is not None:
        mn = mn[:n]
    if mx is not None and len(mx) > n and mx[n] < top:
        mx = mx[:n] + top
    return mn, mx


def _footer_file_stats(
    spark: SparkSession,
    base_path: str,
    data_dir: str,
    stats_cols: list[str],
    schema: StructType,
    schema_id: int,
    *,
    null_stats: bool,
) -> list[tuple] | None:
    """Per-file manifest stats from the parquet FOOTERS the writer
    already produced — zero data bytes re-read (the Iceberg/Delta
    metadata approach: min/max/null-count/row-count live in each file's
    footer). Returns the manifest rows as tuples in
    :func:`_file_stats`'s column order, or None when the footers cannot
    serve them exactly — the caller then takes the distributed
    ``_metadata`` scan, which is always correct. None comes back for a
    stats column outside ``_FOOTER_STATS_KINDS``, a chunk written
    without statistics, a scheme :func:`_arrow_fs` cannot reach, and
    any Arrow I/O error (credentials living only in Spark's Hadoop
    conf, transient store errors, adapter quirks).

    The footers are read sequentially through the :func:`_arrow_fs`
    seam — one Arrow code path for local paths, s3:// / hdfs://
    (pyarrow's own connectors) and :func:`register_arrow_fs` adapters.
    A footer read is a driver-side call of well under a millisecond on
    a local store, so a commit pays O(files) metadata reads instead of
    a distributed scan of every fresh byte.

    Parity notes vs the scan path, all load-bearing: a ZERO-ROW part
    file yields no manifest row (the scan's groupBy drops empty groups —
    the orphan is vacuum's); an all-NULL chunk contributes null counts
    but no min/max; string stats apply the same truncation contract.
    """
    for c in stats_cols:
        kind = schema[c].dataType.simpleString().split("(")[0]
        if kind not in _FOOTER_STATS_KINDS:
            return None
    resolved = _arrow_fs(base_path)
    if resolved is None:
        return None
    import pyarrow as pa
    import pyarrow.parquet as _pq
    from pyarrow.fs import FileSelector, FileType

    afs, abase = resolved
    root = f"{abase.rstrip('/')}/{data_dir}"
    rows = []
    try:
        # an explicit listing, NOT a glob: a glob metacharacter in the
        # table path ([, ?, *) would silently list a DIFFERENT directory
        # and publish an empty manifest where the scan path failed loudly
        infos = afs.get_file_info(FileSelector(root, allow_not_found=True))
        for fi in sorted(infos, key=lambda i: i.path):
            name = fi.path.rsplit("/", 1)[-1]
            if (
                fi.type != FileType.File
                or not name.endswith(".parquet")
                or name.startswith(("_", "."))
            ):
                continue
            with afs.open_input_file(fi.path) as f:
                md = _pq.ParquetFile(f).metadata
            if md.num_rows == 0:
                continue
            mins: dict = {c: None for c in stats_cols}
            maxs: dict = {c: None for c in stats_cols}
            nulls: dict = {c: 0 for c in stats_cols}
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                chunks = {
                    rg.column(j).path_in_schema: rg.column(j)
                    for j in range(rg.num_columns)
                }
                for c in stats_cols:
                    ch = chunks.get(c)
                    s = None if ch is None else ch.statistics
                    # absent statistics (or a null-count the writer
                    # didn't set): only the data itself can answer
                    if s is None or not s.has_null_count:
                        return None
                    nulls[c] += s.null_count
                    if not s.has_min_max:
                        if s.null_count == rg.num_rows:
                            continue  # all-NULL chunk: nulls only
                        # values but no bounds: NULL bounds would read as
                        # an all-NULL file to the prune layer (row loss)
                        return None
                    lo, hi = s.min, s.max
                    if mins[c] is None or lo < mins[c]:
                        mins[c] = lo
                    if maxs[c] is None or hi > maxs[c]:
                        maxs[c] = hi
            for c in stats_cols:
                if isinstance(schema[c].dataType, StringType):
                    mins[c], maxs[c] = _truncate_string_stats(
                        mins[c], maxs[c]
                    )
            row: list = [f"{data_dir}/{name}", int(fi.size), int(md.num_rows)]
            for c in stats_cols:
                row += [mins[c], maxs[c]]
            if null_stats:
                row += [int(nulls[c]) for c in stats_cols]
            row += [None, int(schema_id)]
            rows.append(tuple(row))
    except (OSError, pa.ArrowException):
        return None  # the scan path is authoritative for this store
    return rows


def _file_stats(
    spark: SparkSession,
    base_path: str,
    data_dir: str,
    stats_cols: list[str],
    schema: StructType,
    bloom: dict | None = None,
    schema_id: int = 0,
    *,
    null_stats: bool = False,
):
    """Manifest rows (a pyarrow Table) for the files a commit just wrote
    into its attempt-unique ``data_dir``: one distributed groupBy keyed
    on the ``_metadata`` hidden file path — stats ride a single scan of
    the NEW files only, collected with ``toArrow()``. Declared-schema
    read so a commit that wrote ZERO files (empty merge result) yields
    an empty manifest block, not an inference error.

    ``bloom`` (``{"cols": [...], "m": bits, "k": hashes}``) adds one
    sparse per-file Bloom filter per declared column: each row's k
    positions explode to (word, bit) pairs, a (file, word) ``bit_or``
    folds them, and a per-file collect packs the surviving words into a
    map<int,bigint> — the filter lives in the manifest as ~set-bits/64
    entries, so an unsaturated filter costs KBs per file and a saturated
    one degrades to keep-everything, never to wrong answers.

    ``null_stats`` (a create-time table flag, Delta's nullCount) adds a
    per-file ``nulls_<col>`` count per stats column on the SAME single
    scan: ``prune="nulls_x < rows"`` keeps only files that may hold a
    non-NULL value (IS NOT NULL predicates), ``prune="nulls_x > 0"``
    only files that may hold a NULL (IS NULL — min/max is blind to NULLs
    on both sides), and :func:`manifest_table_stats` folds the global
    nullCount for free.

    When every stats column's type is footer-decodable, the
    min/max/null/row/byte stats come from the parquet FOOTERS instead,
    read through Arrow (:func:`_footer_file_stats`) — the commit re-reads
    ZERO data bytes, and the rows convert to Arrow directly (a failed
    conversion raises). The distributed scan below is the fallback for
    the remaining types, for files missing chunk statistics, and for
    stores Arrow cannot reach or read — so on an Arrow-unreachable store
    every commit pays the scan's jobs. Either way a Bloom-configured
    table then scans for its filters, reading ONLY the Bloom columns
    (:func:`_fold_bloom`)."""
    footer_rows = _footer_file_stats(
        spark, base_path, data_dir, stats_cols, schema, schema_id,
        null_stats=null_stats,
    )
    if footer_rows is not None:
        fields = [
            StructField("path", StringType()),
            StructField("bytes", LongType()),
            StructField("rows", LongType()),
        ]
        for c in stats_cols:
            fields.append(StructField(f"min_{c}", schema[c].dataType))
            fields.append(StructField(f"max_{c}", schema[c].dataType))
        if null_stats:
            fields += [
                StructField(f"nulls_{c}", LongType()) for c in stats_cols
            ]
        fields += [
            StructField("dv_path", StringType()),
            StructField("schema_id", IntegerType()),
        ]
        stats = _rows_to_arrow(footer_rows, StructType(fields))
        return _fold_bloom(spark, stats, base_path, data_dir, schema, bloom)
    raw = spark.read.schema(schema).parquet(f"{base_path}/{data_dir}").select(
        "*",
        F.col("_metadata.file_path").alias("__path"),
        F.col("_metadata.file_size").alias("__bytes"),
    )
    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in stats_cols:
        if isinstance(schema[c].dataType, StringType):
            # bounded stats for text columns (Delta truncates string stats
            # the same way): a stats column holding documents would
            # otherwise store two document-sized values PER FILE in the
            # manifest — at 100k files that turns KB metadata into GBs.
            # min truncates to a prefix (a prefix is <= the value: still a
            # lower bound); max appends U+10FFFF to its prefix (any string
            # sharing the prefix compares below it at the first truncated
            # char: still an upper bound) — except in the degenerate case
            # where the first truncated char IS U+10FFFF, which keeps the
            # full value rather than risk a false skip. Bounds only
            # widen, so pruning/merge-candidate selection stay supersets.
            n, top = _STATS_STRING_MAX, chr(0x10FFFF)
            mn, mx = F.min(c), F.max(c)
            aggs.append(F.substring(mn, 1, n).alias(f"min_{c}"))
            aggs.append(
                F.when(
                    (F.length(mx) > n)
                    & (F.substring(mx, n + 1, 1) < F.lit(top)),
                    F.concat(F.substring(mx, 1, n), F.lit(top)),
                )
                .otherwise(mx)
                .alias(f"max_{c}")
            )
        else:
            aggs.append(F.min(c).alias(f"min_{c}"))
            aggs.append(F.max(c).alias(f"max_{c}"))
        if null_stats:
            aggs.append(
                (F.count(F.lit(1)) - F.count(c)).alias(f"nulls_{c}")
            )
    out = (
        raw.groupBy("__path", "__bytes")
        .agg(*aggs)
        .select(
            _trail_col("__path").alias("path"),
            F.col("__bytes").alias("bytes"),
            "rows",
            *[c for sc in stats_cols for c in (f"min_{sc}", f"max_{sc}")],
            *([f"nulls_{sc}" for sc in stats_cols] if null_stats else []),
            F.lit(None).cast("string").alias("dv_path"),
            F.lit(schema_id).alias("schema_id"),
        )
    )
    return _fold_bloom(spark, out.toArrow(), base_path, data_dir, schema, bloom)


def _fold_bloom(spark, stats, base_path: str, data_dir: str, schema, bloom):
    """``stats`` (the manifest rows of ``data_dir``'s files, a pyarrow
    Table) with one ``bloom_<c>`` column appended per Bloom column —
    ``stats`` itself when ``bloom`` is unset. The filters are KBs per
    file: COLLECT them (one small job per Bloom column — the inherent
    value scan, reading only that column's bytes) and fold them
    driver-side into the stats rows, keyed by file path."""
    if not bloom:
        return stats
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import MapType

    raw = (
        spark.read.schema(schema)
        .parquet(f"{base_path}/{data_dir}")
        .select(*bloom["cols"], F.col("_metadata.file_path").alias("__path"))
    )
    # r15 single-task fusion (same notion as the merge-rewrite gate):
    # when the written bytes fit one task, build each column's filters in
    # ONE partition, so the explode→bit_or→pack pipeline runs without its
    # two exchanges (1 job per Bloom column instead of an AQE stage
    # cascade); bigger commits keep the fully distributed build. Unlike
    # the fused merge, this plan stays in the caller's session: no join
    # multiplies its size estimate, which follows the scanned bytes, so
    # no exchange comes back under the default single-partition cap
    if _fits_one_task(stats.column("bytes").to_pylist()):
        raw = raw.coalesce(1)
    paths = stats.column("path").to_pylist()
    map_type = to_arrow_type(MapType(IntegerType(), LongType()))
    for c in bloom["cols"]:
        words = {
            r["path"]: r[f"bloom_{c}"]
            for r in _bloom_words(raw, c, bloom["m"], bloom["k"]).collect()
        }
        stats = stats.append_column(
            f"bloom_{c}", pa.array([words.get(p) for p in paths], type=map_type)
        )
    return stats


def _bloom_words(raw: DataFrame, c: str, m: int, k: int) -> DataFrame:
    """The per-file sparse Bloom filter for one column as
    ``(path, bloom_<c>: map<int,bigint>)``: each row's k positions
    explode to (word, bit) pairs, a (file, word) ``bit_or`` folds them,
    a per-file collect packs the words."""
    pos = raw.select(
        _trail_col("__path").alias("path"),
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(c), F.lit(i)), F.lit(m)).cast(
                        "int"
                    )
                    for i in range(k)
                ]
            )
        ).alias("p"),
    )
    return (
        pos.select(
            "path",
            (F.col("p") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, p % 64)").alias("b"),
        )
        .groupBy("path", "w")
        .agg(F.bit_or("b").alias("bits"))
        .groupBy("path")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "bits"))
            ).alias(f"bloom_{c}")
        )
    )


def _constraint_rules(meta: dict, delete_col: str | None = None) -> list:
    """Compile the table's persisted CHECK constraints (``meta
    ["constraints"]``: name → boolean SQL expression that must hold) into
    ``operators.expectations`` rules for the commit gate. SQL-standard
    CHECK semantics: a row violates only when the expression evaluates
    to FALSE (NULL passes — compose with ``not_null`` to forbid it).
    Tombstone rows of a merge batch (``delete_col`` true) are exempt:
    they remove rows, and their payload columns are legitimately
    unset."""
    cons = meta.get("constraints") or {}
    if not cons:
        return []
    from tibame_project_spark.operators import expectations as X

    rules = []
    for name in sorted(cons):
        viol = ~F.coalesce(F.expr(cons[name]), F.lit(True))
        if delete_col is not None:
            viol = viol & ~F.coalesce(F.col(delete_col), F.lit(False))
        rules.append(X.custom(f"check({name})", name, viol))
    return rules


_GATE_SEQ = [0]


def _expect_gate(
    df: DataFrame,
    expect: list | None,
    where: str,
    written: tuple | None = None,
):
    """Commit-time data-quality gate (``operators.expectations`` rules):
    returns ``(df', check)`` — run ``check()`` after the data write and
    BEFORE the commit marker, so a violating batch aborts with its
    partial files invisible (the same crash-safety the marker protocol
    already gives). Row-wise rules ride the data write itself as
    OBSERVED metrics — zero extra scans. Rules needing distinct
    aggregates (``unique``): when the caller writes the gated frame
    VERBATIM it passes ``written=(base_path, data_dir, schema)`` and the
    distinct check runs post-write over the just-written files —
    driver-side through Arrow (ZERO Spark jobs) when the store is
    reachable and the dir small, distributed read-back otherwise; count
    and count-distinct are row-order-insensitive, so the written rows
    answer exactly what the gated frame would. Callers whose written
    data is NOT the gated frame (the merge gates its source batch but
    writes the merged output) omit ``written`` and keep the one
    pre-write validation scan.
    """
    if not expect:
        return df, lambda: None
    from tibame_project_spark.operators import expectations as X

    def _fail(rows):
        raise ValueError(
            f"expectation gate failed for {where}: "
            + "; ".join(
                f"{r['rule']}({r['column']}): "
                f"{r['n_violations']}/{r['n_rows']} violations"
                for r in rows
            )
        )

    uniq = [r for r in expect if r[2] == "unique"]
    rows_rules = [r for r in expect if r[2] != "unique"]
    if uniq and written is None:
        # distinct-aggregate rules without a written-frame contract:
        # gate with one scan BEFORE anything is written
        bad = X.validate_expectations(df, expect).filter("NOT passed").collect()
        if bad:
            _fail(bad)
        return df, lambda: None

    checks = []
    if rows_rules:
        _GATE_SEQ[0] += 1
        observed, report_fn = X.observe_expectations(
            df, rows_rules, name=f"manifest_gate_{_GATE_SEQ[0]}"
        )
        df = observed
        checks.append(
            lambda: (
                lambda bad: _fail(bad) if bad else None
            )(report_fn().filter("NOT passed").collect())
        )
    if uniq:
        spark = df.sparkSession
        checks.append(
            lambda: _validate_unique_written(spark, written, uniq, _fail)
        )

    def check():
        for c in checks:
            c()

    return df, check


#: Size cap for a driver-side Arrow read-back of a just-written dir
#: (:func:`_read_back_local`): a commit's data files when validating
#: unique() rules post-write, and a delete's fresh DV sidecar. Above it
#: (or Arrow-unreachable) the read runs distributed.
_UNIQ_READBACK_MAX_BYTES = 256 << 20


def _read_back_local(base_path: str, rel_dir: str, cols: list[str], fold):
    """``fold`` of the ``cols`` of a just-written parquet dir, read
    driver-side through Arrow — zero Spark jobs. None when the store is
    Arrow-unreachable, the dir holds no parquet file or more than
    :data:`_UNIQ_READBACK_MAX_BYTES`, or the read or ``fold`` fails: the
    caller then runs the distributed read-back, which is authoritative.
    Bounds the driver's exposure the way a collect of the same answer
    already would."""
    resolved = _arrow_fs(base_path)
    if resolved is None:
        return None
    try:
        import pyarrow.dataset as ds
        import pyarrow.fs as pafs

        afs, d = resolved
        infos = afs.get_file_info(
            pafs.FileSelector(f"{d.rstrip('/')}/{rel_dir}", allow_not_found=True)
        )
        files = [
            i.path
            for i in infos
            if i.is_file
            and i.base_name.endswith(".parquet")
            and not i.base_name.startswith(("_", "."))
        ]
        if not files or (
            sum(i.size or 0 for i in infos if i.is_file)
            > _UNIQ_READBACK_MAX_BYTES
        ):
            return None
        return fold(
            ds.dataset(files, format="parquet", filesystem=afs).to_table(
                columns=cols
            )
        )
    except Exception:
        return None


def _validate_unique_written(spark, written: tuple, rules: list, fail) -> None:
    """Exact ``unique()`` validation over a commit's just-written files
    (``written = (base_path, data_dir, schema)``): Arrow driver-side —
    zero Spark jobs — through :func:`_read_back_local`; else one
    distributed read-back. Violations = count(col NOT NULL) −
    count(DISTINCT col), matching ``operators.expectations``
    bit-for-bit."""
    from tibame_project_spark.operators import expectations as X

    base_path, data_dir, schema = written

    def report_of(tbl):
        import pyarrow.compute as pc

        report = []
        for name, col, _, payload in rules:
            c = tbl.column(payload)
            viol = (
                pc.count(c, mode="only_valid").as_py()
                - pc.count_distinct(c, mode="only_valid").as_py()
            )
            report.append(
                {
                    "rule": name,
                    "column": col,
                    "n_violations": int(viol),
                    "n_rows": tbl.num_rows,
                    "passed": viol == 0,
                }
            )
        return report

    report = _read_back_local(
        base_path, data_dir, sorted({r[3] for r in rules}), report_of
    )
    if report is None:
        wdf = spark.read.schema(schema).parquet(f"{base_path}/{data_dir}")
        report = [
            r.asDict()
            for r in X.validate_expectations(wdf, rules).collect()
        ]
    bad = [r for r in report if not r["passed"]]
    if bad:
        fail(bad)


def _widen_registry(
    schema: StructType,
    schemas: dict[int, list[dict]],
    schema_id: int,
    fields: list[StructField],
) -> tuple[StructType, dict[int, list[dict]], int]:
    """ADD-COLUMN evolution of the schema registry: ``fields`` append to
    ``schema`` as a new era whose new field ids are fresh across the
    WHOLE registry (an id freed by a schema-changing refresh must never
    be reused for a different column — cross-era feeds pair by id).
    Returns the widened ``(schema, schemas, schema_id)``."""
    next_id = max(f["id"] for fl in schemas.values() for f in fl) + 1
    new_id = max(schemas) + 1
    return (
        StructType(list(schema.fields) + list(fields)),
        {
            **schemas,
            new_id: list(schemas[schema_id])
            + [
                {"id": next_id + j, "name": f.name,
                 "type": f.dataType.jsonValue()}
                for j, f in enumerate(fields)
            ],
        },
        new_id,
    )


def _validate_stats_cols(df: DataFrame, stats_cols: list[str]) -> None:
    kinds = dict(df.dtypes)
    for c in stats_cols:
        if c not in kinds:
            raise ValueError(f"stats column {c!r} not in dataframe: {df.columns}")
        base = kinds[c].split("(")[0]
        if base not in _ORDERABLE_KINDS.split():
            raise ValueError(
                f"stats column {c!r} has non-orderable type {kinds[c]!r}; "
                "min/max skipping needs an atomic orderable column"
            )


def _write_data(
    df: DataFrame,
    base_path: str,
    data_dir: str,
    cluster_by: str | list[str] | None,
    n_files: int,
    zorder_bits: int = 16,
) -> None:
    """Write a commit's data files (``writers._clustered_write``):
    ``cluster_by`` makes per-file min/max ranges tight and disjoint, which
    ``prune=`` reads and merge file-skipping skip on; two or more columns
    cluster on their Morton key (integers in [0, 2^zorder_bits), as for
    ``write_zorder_parquet``). The layout is a function of the rows, so
    which files a later merge rewrites, and whether it fuses, is too."""
    cols = [cluster_by] if isinstance(cluster_by, str) else cluster_by
    zb = zorder_bits if cols and len(cols) > 1 else None
    _clustered_write(df, f"{base_path}/{data_dir}", cols, n_files, zorder_bits=zb)


def write_manifest_table(
    spark: SparkSession,
    df: DataFrame,
    base_path: str,
    *,
    stats_cols: list[str] | None = None,
    cluster_by: str | list[str] | None = None,
    n_files: int = 0,
    zorder_bits: int = 16,
    keep: int = 2,
    bloom_cols: list[str] | None = None,
    bloom_m: int = 1 << 15,
    bloom_k: int = 3,
    null_stats: bool = False,
    expect: list | None = None,
    txn: tuple[str, int] | None = None,
    constraints: dict | None = None,
) -> int:
    """Full-content commit: version ``n`` whose live file set is exactly
    ``df``'s files. Creates the table at v0 (``stats_cols`` declares the
    skipping columns, fixed for the table's lifetime) or supersedes every
    prior file at v>0 (a full refresh — prefer :func:`append_manifest_table`
    / :func:`merge_manifest_table`, which don't rewrite the world).
    Returns the committed version.

    ``bloom_cols`` (create-time only, fixed like ``stats_cols``) adds a
    per-file Bloom filter per named column — EQUALITY skipping for
    columns the clustering doesn't order, where min/max is useless (a
    point lookup on an unclustered high-cardinality id otherwise reads
    every file). ``bloom_m`` bits / ``bloom_k`` hashes per filter; size
    ``bloom_m`` at ~8-16 bits per expected distinct key per file (the
    false-positive knob — too small only degrades skipping, never
    correctness). Probe with :func:`bloom_prune_expr`.

    ``null_stats=True`` (create-time only, fixed like ``stats_cols``)
    records a per-file ``nulls_<col>`` count for every stats column —
    Delta's nullCount: ``prune="nulls_x < rows"`` skips all-NULL files
    for IS NOT NULL predicates, ``prune="nulls_x > 0"`` skips NULL-free
    files for IS NULL ones (min/max is blind to NULLs either way), and
    :func:`manifest_table_stats` folds the table-wide null count at
    metadata cost. Every later commit kind computes it on its new files'
    single stats scan; legacy tables never grow the columns."""
    if keep < 1:
        raise ValueError(f"keep must be >= 1, got {keep}")
    fs, listing, head, version = _begin(spark, base_path)
    if head is None:
        if not stats_cols:
            raise ValueError(
                "creating a manifest table requires stats_cols (the columns "
                "min/max file skipping will use)"
            )
        stats_cols = list(stats_cols)
        bloom = (
            {"cols": list(bloom_cols), "m": bloom_m, "k": bloom_k}
            if bloom_cols
            else None
        )
    else:
        prior = _meta(spark, base_path, head)
        inherited = prior["stats_cols"]
        if stats_cols is not None and list(stats_cols) != inherited:
            raise ValueError(
                f"stats_cols are fixed at table creation ({inherited}); "
                f"got {list(stats_cols)}"
            )
        stats_cols = inherited
        bloom = prior.get("bloom")
        if bloom_cols is not None and (
            bloom is None or list(bloom_cols) != bloom["cols"]
        ):
            raise ValueError(
                f"bloom_cols are fixed at table creation "
                f"({bloom['cols'] if bloom else None}); got {list(bloom_cols)}"
            )
        if null_stats and not prior.get("null_stats"):
            raise ValueError(
                "null_stats is fixed at table creation; this table was "
                "created without it (manifests since v0 lack the "
                "nulls_<col> columns a mid-life enable would need)"
            )
        null_stats = bool(prior.get("null_stats"))
    _validate_stats_cols(df, stats_cols)
    if bloom:
        _validate_stats_cols(df, bloom["cols"])
    if head is None:
        cons = dict(constraints) if constraints else None
        if cons:
            for n_, e_ in cons.items():
                F.expr(e_)  # fail fast on an unparseable constraint
    else:
        if constraints is not None:
            raise ValueError(
                "constraints are managed via add_manifest_constraint / "
                "drop_manifest_constraint after creation"
            )
        cons = None  # _finish inherits the head's
        prior_rules = _constraint_rules(prior)
        if prior_rules:
            expect = (list(expect) if expect else []) + prior_rules
    if head is None and cons:
        rules = _constraint_rules({"constraints": cons})
        expect = (list(expect) if expect else []) + rules
    data_dir = f"data/c={_token()}"
    df, gate = _expect_gate(
        df, expect, f"write_manifest_table({base_path})",
        written=(base_path, data_dir, df.schema),
    )
    _write_data(df, base_path, data_dir, cluster_by, n_files, zorder_bits)
    gate()  # violating data never publishes: no marker yet, files invisible
    if head is None:
        schemas, schema_id = {0: _fields_from_schema(df.schema)}, 0
    else:
        # full refresh: files usually carry the table's CURRENT schema
        # (reuse its registry id); a refresh that changes the schema
        # replaces the WHOLE live set, so it registers a fresh schema id
        # with positional field identity — retained older manifests keep
        # resolving their own ids for time travel
        schemas, schema_id = _registry(prior)
        fresh = _fields_from_schema(df.schema)
        if fresh != schemas[schema_id]:
            # field identity follows (name, type) across a full refresh:
            # a reordered refresh keeps every column's id (so feeds
            # spanning the boundary pair columns correctly); genuinely
            # new columns get ids fresh across the WHOLE registry (never
            # aliasing an old era's different column)
            by_name = {
                (f["name"], json.dumps(f["type"])): f["id"]
                for f in schemas[schema_id]
            }
            next_id = (
                max(f["id"] for fl in schemas.values() for f in fl) + 1
            )
            refreshed = []
            for f in fresh:
                known = by_name.get((f["name"], json.dumps(f["type"])))
                if known is not None:
                    refreshed.append(dict(f, id=known))
                else:
                    refreshed.append(dict(f, id=next_id))
                    next_id += 1
            # reuse an existing era when the remap reproduces one exactly
            # — otherwise every nightly refresh of a once-reordered table
            # would register a duplicate era and grow meta forever
            for k, fl in schemas.items():
                if fl == refreshed:
                    schema_id = k
                    break
            else:
                schema_id = max(schemas) + 1
                schemas[schema_id] = refreshed
    manifest = _file_stats(
        spark, base_path, data_dir, stats_cols, df.schema, bloom,
        schema_id=schema_id, null_stats=null_stats,
    )
    # full-content commits are EXCLUSIVE: a create racing another create,
    # or a full refresh racing anything, has no meaningful rebase
    return _finish(
        spark, base_path, schema=df.schema, stats_cols=stats_cols,
        keep=keep, base_head=head, full_manifest=manifest,
        bloom=bloom, op="create", schemas=schemas, schema_id=schema_id,
        txn=txn, constraints=cons, null_stats=null_stats,
        require_constraints=(
            None if head is None else (prior.get("constraints") or {})
        ),
    )


def append_manifest_table(
    spark: SparkSession,
    df: DataFrame,
    base_path: str,
    *,
    cluster_by: str | list[str] | None = None,
    n_files: int = 0,
    zorder_bits: int = 16,
    keep: int = 2,
    allow_evolution: bool = False,
    expect: list | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Append-only commit: new files for ``df``, every existing file
    carried forward in the manifest verbatim — a metadata union, zero
    bytes of old data touched. The 100 TB ingest pattern: daily loads
    append; nothing ever rewrites history.

    ``txn=(app_id, version)`` makes the commit IDEMPOTENT (Delta's
    txnAppId/txnVersion design): if the table has already committed this
    application's version (or a later one), the call is a no-op that
    returns the current head — the exactly-once primitive a streaming
    ``foreachBatch`` sink needs, because a crashed driver replays its
    last unacknowledged batch. Watermarks are checked again under the
    commit claim, so two racing replays of one batch apply exactly once.

    ``allow_evolution=True`` permits ADD-COLUMN schema evolution: ``df``
    must still carry every existing column (matching name and type) and
    may add new ones; the committed schema widens, and reads fill the new
    columns with NULL for pre-evolution files (parquet name-based
    projection) — no old file is rewritten, the lakehouse add-column
    contract. Drops and type changes are rejected either way: they would
    silently reinterpret history."""
    fs, listing, head, version = _begin(spark, base_path)
    if head is None:
        raise FileNotFoundError(
            f"no committed manifest table under {base_path}; create with "
            "write_manifest_table first"
        )
    meta = _meta(spark, base_path, head)
    if txn is not None:
        applied = {k: int(v) for k, v in meta.get("txns", {}).items()}
        if applied.get(str(txn[0]), -1) >= int(txn[1]):
            # common replay path: no-op before any data file is written
            # (the authoritative re-check still runs under _finish's claim)
            return head
    stats_cols = meta["stats_cols"]
    schema = StructType.fromJson(meta["schema"])
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    want = [(f.name, f.dataType.simpleString()) for f in schema.fields]
    mismatched = [
        (n, got.get(n), t) for n, t in want if got.get(n) != t
    ]
    extras = [n for n in df.columns if n not in {n_ for n_, _ in want}]
    if mismatched:
        raise ValueError(
            f"append schema drops or retypes table columns {mismatched} "
            f"(got {sorted(got.items())}, table {want})"
        )
    if extras and not allow_evolution:
        raise ValueError(
            f"append schema adds columns {extras}; pass "
            "allow_evolution=True to widen the table schema"
        )
    schemas, schema_id = _registry(meta)
    if extras:  # the batch's files are written under the new schema id
        schema, schemas, schema_id = _widen_registry(
            schema, schemas, schema_id, [df.schema[n] for n in extras]
        )
    _validate_stats_cols(df, stats_cols)
    rules = _constraint_rules(meta)
    if rules:  # persisted CHECK constraints gate every writer, not just
        expect = (list(expect) if expect else []) + rules  # expect= callers
    data_dir = f"data/c={_token()}"
    df, gate = _expect_gate(
        df, expect, f"append_manifest_table({base_path})",
        written=(base_path, data_dir, df.schema),
    )
    _write_data(df, base_path, data_dir, cluster_by, n_files, zorder_bits)
    gate()
    new_rows = _file_stats(
        spark, base_path, data_dir, stats_cols, df.schema, meta.get("bloom"),
        schema_id=schema_id, null_stats=bool(meta.get("null_stats")),
    )
    # append reads nothing and removes nothing → commutes with every
    # concurrent append/merge/delete; _finish auto-rebases on a moved head
    return _finish(
        spark,
        base_path,
        schema=schema,
        stats_cols=stats_cols,
        keep=keep,
        base_head=head,
        added=new_rows,
        dv_key=meta.get("dv_key"),
        bloom=meta.get("bloom"),
        op="append",
        schemas=schemas,
        schema_id=schema_id,
        txn=txn,
        require_constraints=meta.get("constraints") or {},
    )


def last_txn_version(
    spark: SparkSession, base_path: str, app_id: str
) -> int | None:
    """The highest ``txn`` version this application has committed to the
    table, or ``None`` — the resume point for an external writer that
    tracks its own batch numbering (Delta's ``txnVersion`` lookup)."""
    fs, listing, head, _ = _begin(spark, base_path)
    if head is None:
        raise FileNotFoundError(f"no committed manifest table under {base_path}")
    v = _meta(spark, base_path, head).get("txns", {}).get(str(app_id))
    return int(v) if v is not None else None


def manifest_txns(spark: SparkSession, base_path: str) -> dict[str, int]:
    """Every application's idempotent-transaction watermark (``app_id`` →
    highest committed txn version) — the monitoring surface for the
    registry :func:`expire_txns` bounds: a long-lived table written by
    short-lived streams should see this map stay O(live writers), not
    grow one entry per decommissioned ``app_id`` forever."""
    fs, listing, head, _ = _begin(spark, base_path)
    if head is None:
        raise FileNotFoundError(f"no committed manifest table under {base_path}")
    return {
        k: int(v)
        for k, v in _meta(spark, base_path, head).get("txns", {}).items()
    }


def manifest_stats(
    spark: SparkSession, base_path: str, *, version: int | None = None
) -> DataFrame:
    """The manifest itself — one row per live data file with path, bytes,
    rows, and min/max per declared stats column. Monitoring surface and
    the test hook for asserting skipping."""
    return spark.createDataFrame(_committed_manifest(spark, base_path, version))


def _committed_manifest(spark: SparkSession, base_path: str, version: int | None):
    """The manifest Table of a committed ``version`` (default: the head);
    raises when that version is not committed."""
    if version is None:
        version = read_manifest_version(spark, base_path)
        if version is None:
            raise FileNotFoundError(f"no committed manifest table under {base_path}")
    else:
        fs, _, jvm = _fs_for(spark, base_path)
        marker = _hadoop_path(jvm, f"{base_path}/{_COMMIT_PREFIX}{version}")
        if not fs.exists(marker):
            raise FileNotFoundError(
                f"manifest version {version} under {base_path} is not committed"
            )
    return _load_manifest(spark, base_path, version)


def manifest_file_paths(
    spark: SparkSession,
    base_path: str,
    *,
    version: int | None = None,
    prune: str | None = None,
) -> list[str]:
    """Relative paths of the files a read would open, after ``prune``.

    ``prune`` is a boolean SQL expression over the manifest columns
    (``min_<c>``/``max_<c>``/``rows``/``bytes``/``path``, plus
    ``nulls_<c>`` on tables created with ``null_stats=True``) selecting
    files that MAY contain matching rows — e.g. a row filter
    ``price > 100`` skips via ``max_price > 100``, ``price IS NOT NULL``
    via ``nulls_price < rows``, ``price IS NULL`` via
    ``nulls_price > 0``. NULL-safe conservative: a file whose
    stats leave the expression NULL (all-null column chunk) is KEPT, so
    pruning can only ever be a superset of the matching rows."""
    man = _committed_manifest(spark, base_path, version)
    return [r["path"] for r in _manifest_files(spark, man, ["path"], prune)]


def version_as_of(spark: SparkSession, base_path: str, ts) -> int:
    """The version a TIMESTAMP-AS-OF read resolves to: the LATEST retained
    commit whose (monotone) commit timestamp is <= ``ts``. ``ts`` is epoch
    milliseconds (int) or a datetime. Raises when ``ts`` predates every
    retained STAMPED commit — history that far back has been pruned (or
    never existed, or predates commit timestamps on an upgraded table:
    an unstamped commit's real wall-clock time is unknown, so as_of
    never resolves to one), and silently snapping forward or backward
    would misreport what the table looked like. A ``ts`` after the
    newest commit resolves to the head (reading "the table as of
    yesterday 23:59" must work even if nothing committed since). Cost:
    one listing + one KB meta read per retained version, driver-side."""
    if hasattr(ts, "timestamp"):
        ts = int(ts.timestamp() * 1000)
    ts = int(ts)
    fs, base, _ = _fs_for(spark, base_path)
    listing = list(fs.listStatus(base)) if fs.exists(base) else []
    committed = sorted(_committed_versions(listing))
    if not committed:
        raise FileNotFoundError(f"no committed manifest table under {base_path}")
    best = None
    # commit stamps are monotone (enforced at publish), so walk newest →
    # oldest and stop at the first qualifying version: a recent as_of
    # costs ONE meta read, not one per retained version
    for v in reversed(committed):
        stamp = _meta(spark, base_path, v).get("ts")
        if stamp is None:
            # pre-feature commit with no recorded timestamp: its real
            # wall-clock time is unknown, so it can never satisfy an
            # as_of — and everything older is unstamped too (stamps were
            # introduced at one commit and are monotone after), so stop:
            # resolving to it would misreport table state silently
            break
        if int(stamp) <= ts:
            best = v
            break
    if best is None:
        raise ValueError(
            f"no retained commit at or before ts={ts} under {base_path} — "
            f"the oldest retained version is v{committed[0]}; earlier "
            "history is outside retention (raise keep= or pin releases "
            "with tags)"
        )
    return best


def read_manifest_table(
    spark: SparkSession,
    base_path: str,
    *,
    version: int | None = None,
    prune: str | None = None,
    where: str | None = None,
    tag: str | None = None,
    as_of=None,
) -> DataFrame:
    """Read a committed version (default head; older = time travel within
    retention) as the union of its live files, optionally file-skipped by
    ``prune`` (see :func:`manifest_file_paths` for the contract — the
    caller still applies the exact row filter; pruning only shrinks the
    scan). ``where`` is the TRANSPARENT form: one row-predicate string
    that is BOTH applied exactly to the rows and compiled into a prune
    expression via :func:`data_skipping_expr` (Delta-style automatic
    data skipping — ranges from min/max, equality/IN through the Bloom
    tier, IS [NOT] NULL through null-count stats), composing with any
    explicit ``prune=``. Files carrying a deletion vector are anti-joined against their
    sidecars (one broadcast anti-join for the whole read); min/max stats
    of DV'd files stay conservative, so ``prune`` remains a superset
    filter. An empty live set still returns a correctly-schemed empty
    DataFrame (schema travels in ``meta/``). ``tag=`` reads the version a
    named tag pins (release pinning — :func:`tag_manifest_version`);
    ``as_of=`` (epoch ms or datetime) reads the version live at that
    wall-clock instant (:func:`version_as_of` — Delta's TIMESTAMP AS OF).
    ``version``/``tag``/``as_of`` are mutually exclusive."""
    if sum(x is not None for x in (version, tag, as_of)) > 1:
        raise ValueError("pass at most one of version=, tag=, as_of=")
    if tag is not None:
        tags = _manifest_tags(spark, base_path)
        if tag not in tags:
            raise FileNotFoundError(f"no tag {tag!r} under {base_path}")
        version = tags[tag]
    if as_of is not None:
        version = version_as_of(spark, base_path, as_of)
    if version is None:
        version = read_manifest_version(spark, base_path)
        if version is None:
            raise FileNotFoundError(f"no committed manifest table under {base_path}")
    man = _committed_manifest(spark, base_path, version)
    meta = _meta(spark, base_path, version)
    auto = None
    if where is not None:
        auto = data_skipping_expr(
            spark, base_path, where, version=version, meta=meta
        )
    files = _manifest_files(
        spark, man, ["path", "dv_path", "schema_id"], prune, auto
    )
    out = _read_live(spark, base_path, files, meta)
    return out.where(where) if where is not None else out


#: Max live files whose candidacy folds into the merge's bounds agg as
#: per-file BETWEEN flags (one agg expr per file). Above it the broadcast
#: semi-join path scales arbitrarily; the fold only exists to keep small
#: tables' commits at one batch scan.
_CAND_FOLD_MAX_FILES = 96

#: Max total candidate bytes for the single-file merge REWRITE FUSION:
#: when a merge rewrites at most one file and its bytes fit a single
#: task, both merge-join inputs coalesce to ONE partition —
#: SinglePartition satisfies the join's ClusteredDistribution on both
#: sides, so the full-outer merge join plans with ZERO exchanges and
#: the whole candidate-read → join → sort → write chain runs as ONE
#: stage/job instead of a 3-stage AQE chain. Above the bound (or with
#: >1 candidate file, where clustering the output needs its exchange)
#: the distributed plan is the 100 TB-correct shape and is kept.
_MERGE_FUSE_MAX_BYTES = 128 << 20


def _fits_one_task(sizes) -> bool:
    """The single-task fusion gate's byte test: True when every file
    size in ``sizes`` is known and they sum to at most
    :data:`_MERGE_FUSE_MAX_BYTES`. A NULL size cannot prove the input
    small, so it fails closed to the distributed plan."""
    sizes = list(sizes)
    return None not in sizes and sum(sizes) <= _MERGE_FUSE_MAX_BYTES


#: stat value types whose F.lit() comparison provably coerces like the
#: semi-join's column-vs-column comparison (int family, string, bool,
#: float family, Decimal, date). datetimes are excluded: a naive literal
#: binds as TIMESTAMP while the column may be TIMESTAMP_NTZ.
_CAND_FOLD_LIT_TYPES = (bool, int, float, str)


def _cand_fold_files(man, key: str):
    """The live file set of manifest ``man`` as driver-side dicts with
    ``__lo``/``__hi`` key bounds — when it is small enough to fold into
    the bounds agg and the key's stat values are literal-safe; else None
    (callers keep the broadcast semi-join). Files with NULL key stats
    (zero-row files) are dropped: no batch key can land in a NULL range,
    matching the semi-join's NULL comparison semantics."""
    import datetime
    import decimal

    if man.num_rows > _CAND_FOLD_MAX_FILES:
        return None
    names = set(man.schema.names)
    if f"min_{key}" not in names or f"max_{key}" not in names:
        return None
    cols = ["path", f"min_{key}", f"max_{key}", "bytes", "dv_path", "schema_id"]
    out = []
    for r in man.select(cols).to_pylist():
        lo, hi = r[f"min_{key}"], r[f"max_{key}"]
        if lo is None or hi is None:
            continue
        ok = all(
            isinstance(v, _CAND_FOLD_LIT_TYPES)
            or isinstance(v, (decimal.Decimal,))
            or (
                isinstance(v, datetime.date)
                and not isinstance(v, datetime.datetime)
            )
            for v in (lo, hi)
        )
        if not ok:
            return None
        out.append(dict(r, __lo=lo, __hi=hi))
    return out


def _driver_key_class(dt, key_type) -> type | None:
    """The Python class a batch key of Spark type ``dt`` collects as,
    when Python orders, compares and deduplicates those values exactly
    as the bounds aggregate does; else None. Integral, boolean, date and
    decimal keys qualify (a decimal only at the table's own key type, so
    no comparison has to widen it), strings only under the default
    UTF8_BINARY collation (code point order IS UTF-8 byte order). Float
    keys (NaN, -0.0), timestamps (session time zone) and collated
    strings keep the aggregate."""
    import datetime
    import decimal

    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        return int
    if isinstance(dt, BooleanType):
        return bool
    if isinstance(dt, DateType):
        return datetime.date
    if isinstance(dt, DecimalType) and dt == key_type:
        return decimal.Decimal
    if isinstance(dt, StringType) and dt.collation == "UTF8_BINARY":
        return str
    return None


def _batch_bounds(
    batch: DataFrame,
    key: str,
    key_type,
    fold_files,
    *,
    distinct: bool,
) -> dict:
    """The merge/delete guard row of a change batch: key bounds
    ``lo``/``hi``, row count ``n``, non-NULL key count ``nk``, distinct
    key count ``ndk`` (aggregated only when ``distinct``; the delete
    never reads it), and per fold file (:func:`_cand_fold_files`)
    ``__cand{i}`` — does any batch key land in that file's range.

    A DRIVER-LOCAL batch whose key class passes :func:`_driver_key_class`
    (and whose fold literals are of that same class) is computed in
    Python from its collected key column: collecting a LocalRelation
    launches no job. NULL keys count in ``n`` only; with no non-NULL key
    the bounds are NULL and no file is a candidate — the aggregate's
    semantics. Everything else runs the one scalar aggregate, in
    :func:`_in_clone`'s session: AQE has nothing to adapt in a global
    aggregate, but would run each of its stages as its own job (3 jobs
    over a parquet batch where the clone runs 1, per commit)."""
    fold_files = fold_files or ()
    cls = None
    if _is_local_relation(batch):
        col = batch.select(key)
        cls = _driver_key_class(col.schema.fields[0].dataType, key_type)
    if cls is not None and all(
        type(f[b]) is cls for f in fold_files for b in ("__lo", "__hi")
    ):
        vals = [r[0] for r in col.collect()]
        keys = sorted(v for v in vals if v is not None)
        out = {
            "lo": keys[0] if keys else None,
            "hi": keys[-1] if keys else None,
            "n": len(vals),
            "nk": len(keys),
            "ndk": len(set(keys)),
        }
        for i, f in enumerate(fold_files):
            j = bisect.bisect_left(keys, f["__lo"])
            out[f"__cand{i}"] = j < len(keys) and keys[j] <= f["__hi"]
        return out
    aggs = [
        F.min(key).alias("lo"),
        F.max(key).alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.count(key).alias("nk"),
    ]
    if distinct:
        aggs.append(F.countDistinct(key).alias("ndk"))
    aggs += [
        F.max(F.col(key).between(F.lit(f["__lo"]), F.lit(f["__hi"]))).alias(
            f"__cand{i}"
        )
        for i, f in enumerate(fold_files)
    ]
    # a driver-local batch aggregates in ONE partition: no exchange, so
    # the whole guard scan is a single job; distributed batches keep
    # their parallel partial aggregation
    agg_src = batch.coalesce(1) if _is_local_relation(batch) else batch
    (agg,) = _in_clone(agg_src.agg(*aggs))
    return agg.first().asDict()


def merge_manifest_table(
    spark: SparkSession,
    source: DataFrame,
    base_path: str,
    key: str,
    *,
    delete_col: str | None = None,
    keep: int = 2,
    expect: list | None = None,
    txn: tuple[str, int] | None = None,
    allow_evolution: bool = False,
    update_condition: str | None = None,
) -> int:
    """MERGE a change batch into the table, rewriting ONLY the files whose
    ``key`` range can contain a batch key (Delta/Iceberg's
    merge-on-read-free MERGE shape, re-expressed on the manifest):

    1. candidate files are those whose ``[min_key, max_key]`` holds a
       batch key — found on the driver for a driver-local batch, as
       per-file flags of the batch's one bounds aggregate for a small
       table, or by a bounds overlap plus a broadcast semi-join against
       the batch keys for a big one (:func:`_prepare_keyed_edit`);
    2. candidates + batch go through ``operators.corrections.merge_upsert``
       (updates, inserts, tombstone deletes) and land as fresh
       range-clustered files; every non-candidate file is carried forward
       in the manifest VERBATIM — zero bytes of it read or written.

    ``key`` must be a single non-null column declared in ``stats_cols``
    (NULL has no place in a min/max range; the batch is validated and the
    merge runs ``null_safe_keys=False`` — enforce non-null upstream with
    an expectations rule). Composite keys: pre-concatenate a surrogate.
    The batch must also be KEY-UNIQUE — the merge is a full-outer join
    on ``key``, so two images of one key in a single batch would fan out
    into two output rows (silent duplicate-key corruption); the batch is
    validated (count vs count-distinct, folded into the bounds agg) and
    a duplicated key refuses loudly. Multi-image CDC feeds: collapse
    per-batch with ``operators.dedup.dedup_keep_last`` on an
    explicit ordering column, then gate staleness against the TABLE with
    ``update_condition``. Returns the committed version.

    ``txn=(app_id, version)`` makes the commit idempotent — see
    :func:`append_manifest_table`. A replay the head already records
    no-ops before any batch work; one racing the original past that
    check still prepares its rewrite files before the claim-time
    watermark check no-ops the publish — those unreferenced files are
    vacuum's to reclaim, the same as any losing racer's.

    ``allow_evolution=True`` (Delta's ``withSchemaEvolution`` MERGE):
    batch columns the table lacks widen the schema as a new era —
    candidates rewrite carrying the new columns, every untouched file
    stays on its old era and reads NULL-filled. Without the flag an
    extra batch column REFUSES loudly (the silent alternative would
    drop a CDC source's new column without a trace).

    ``update_condition`` (Delta's ``whenMatched(condition)``): a boolean
    SQL expression gating every MATCHED source row — source columns by
    name, the matched current row's as ``t_<name>`` — e.g.
    ``"ts > t_ts"`` applies only strictly-newer images (last-writer-wins
    for out-of-order CDC feeds). A false/NULL condition keeps the
    current row; unmatched rows always insert; tombstones are gated too,
    so a stale delete cannot undo a newer image. Cost: one extra join of
    the batch against the candidate rows (bounded by the batch's key
    ranges), nothing table-wide."""
    edit = _prepare_merge_edit(
        spark, source, base_path, key, delete_col=delete_col, expect=expect,
        where=f"merge_manifest_table({base_path})",
        allow_evolution=allow_evolution, update_condition=update_condition,
        txn=txn,
    )
    if isinstance(edit, int):  # txn already applied: the replay no-ops
        return edit
    # read set = replace set = the candidate files; a concurrent commit
    # touching them, or any file in this batch's key range, conflicts
    return _finish(
        spark,
        base_path,
        schema=edit["schema"],
        stats_cols=edit["stats_cols"],
        keep=keep,
        base_head=edit["base_head"],
        removed=frozenset(edit["removed"]),
        added=edit["added"],
        bounds=edit["bounds"],
        dv_key=edit["dv_key"],
        bloom=edit["bloom"],
        op="merge",
        schemas=edit["schemas"],
        schema_id=edit["schema_id"],
        txn=txn,
        require_constraints=edit.get("constraints") or {},
    )


def _prepare_keyed_edit(
    spark: SparkSession,
    batch: DataFrame,
    base_path: str,
    key: str,
    *,
    verb: str,
    txn: tuple[str, int] | None = None,
    extra_fields=None,
):
    """The front half of both keyed edits — ``verb`` ``"merge"``
    (:func:`merge_manifest_table`) or ``"delete"``
    (:func:`delete_manifest_table`), immediate or staged: one ``_begin``
    and one ``_meta`` of the head, the ``txn=`` replay check, the key
    guards, the batch's guard row (:func:`_batch_bounds`), the edit
    skeleton, and the CANDIDATE files — those whose key range holds a
    batch key, found on the driver, by flags folded into the bounds
    aggregate, or by the broadcast semi-join (module docstring, "Scale
    notes"). ``extra_fields(schema)`` (merge only) returns the batch
    fields that widen the table schema (:func:`_widen_registry`), or
    raises; it runs before the empty-batch return, so an empty batch
    still widens. Returns the head when ``txn`` was already applied
    (the caller no-ops), else ``(edit, meta, man, cand_files)`` with
    ``cand_files`` None for an empty batch (a metadata-only edit)."""
    _, _, head, _ = _begin(spark, base_path)
    if head is None:
        raise FileNotFoundError(
            f"no committed manifest table under {base_path}; create with "
            "write_manifest_table first"
        )
    meta = _meta(spark, base_path, head)
    if txn is not None:
        applied = meta.get("txns", {})
        if int(applied.get(str(txn[0]), -1)) >= int(txn[1]):
            return head
    stats_cols = meta["stats_cols"]
    schema = StructType.fromJson(meta["schema"])
    if key not in stats_cols:
        raise ValueError(
            f"{verb} key {key!r} must be a declared stats column ({stats_cols})"
            + (" — file skipping needs its min/max" if verb == "merge" else "")
        )
    dv_key = meta.get("dv_key")
    if verb == "delete" and dv_key is not None and dv_key != key:
        raise ValueError(
            f"table's deletion-vector key is fixed at {dv_key!r} (first "
            f"delete); got {key!r}"
        )
    # one pass over the batch for bounds AND the NULL-key guard
    # (count(*) vs count(key)) AND, for a merge, the key-uniqueness
    # guard (count vs count distinct) — on the driver for a local batch,
    # else one scan; per-file candidacy rides the same pass when the
    # live file set folds
    man = _load_manifest(spark, base_path, head)
    fold_files = _cand_fold_files(man, key)
    bounds = _batch_bounds(
        batch, key, schema[key].dataType, fold_files, distinct=verb == "merge"
    )
    if bounds["n"] != bounds["nk"]:
        raise ValueError(
            f"merge batch contains NULL {key!r} keys; manifest merge requires "
            "non-null keys (a NULL never lands in a min/max range, so it "
            "would silently re-insert on every application)"
            if verb == "merge"
            else f"delete batch contains NULL {key!r} keys; a NULL never "
            "lands in a min/max range, so it could never be skipped "
            "consistently"
        )
    if verb == "merge" and bounds["nk"] != bounds["ndk"]:
        # REFUSE, never fan out: the merge is a full-outer join on the
        # key, so two images of one key in a single batch would emit two
        # output rows — silent duplicate-key corruption of a table whose
        # every other verb (UPDATE candidates, DV deletes, later merges,
        # update_condition's own target join) assumes key uniqueness.
        # Out-of-order CDC feeds deliver exactly such batches: collapse
        # them upstream (operators.dedup.dedup_keep_last on an
        # explicit ordering column), then gate staleness vs the TABLE
        # with update_condition.
        raise ValueError(
            f"merge batch carries duplicate {key!r} keys "
            f"({bounds['nk']} rows, {bounds['ndk']} distinct): a "
            "duplicated key would fan out in the merge join and corrupt "
            "the table; collapse the batch first (e.g. dedup_keep_last "
            "on an ordering column), then use update_condition to gate "
            "staleness against the table"
        )
    schemas, schema_id = _registry(meta)
    if extra_fields is not None:
        extra = extra_fields(schema)
        if extra:
            schema, schemas, schema_id = _widen_registry(
                schema, schemas, schema_id, extra
            )
    edit = {
        "base_head": head,
        "key": key,
        "schema": schema,
        "stats_cols": stats_cols,
        "dv_key": dv_key,
        "bloom": meta.get("bloom"),
        "schemas": schemas,
        "schema_id": schema_id,
        "constraints": meta.get("constraints") or {},
        "removed": [],
        "added": None,
        "bounds": None,
    }
    if bounds["lo"] is None:  # empty batch: a metadata-only no-op edit
        return edit, meta, man, None
    # from here the edit reads the batch's key range: a concurrent commit
    # INTO the range conflicts, even when no file is a candidate
    edit["bounds"] = (key, bounds["lo"], bounds["hi"])
    if fold_files is not None:
        cand_files = [
            f for i, f in enumerate(fold_files) if bounds[f"__cand{i}"]
        ]
    else:
        keys = batch.select(F.col(key).alias("__key"))
        if verb == "delete":  # a merge batch is proven key-unique above
            keys = keys.distinct()
        cand_files = (
            spark.createDataFrame(man)
            .where(
                (F.col(f"max_{key}") >= F.lit(bounds["lo"]))
                & (F.col(f"min_{key}") <= F.lit(bounds["hi"]))
            )
            .join(
                F.broadcast(keys),
                (F.col("__key") >= F.col(f"min_{key}"))
                & (F.col("__key") <= F.col(f"max_{key}")),
                "leftsemi",
            )
            .select("path", "bytes", "dv_path", "schema_id")
            .collect()
        )
    return edit, meta, man, cand_files


def _prepare_merge_edit(
    spark: SparkSession,
    source: DataFrame,
    base_path: str,
    key: str,
    *,
    delete_col: str | None,
    expect: list | None,
    where: str,
    allow_evolution: bool = False,
    update_condition: str | None = None,
    txn: tuple[str, int] | None = None,
):
    """Everything a MERGE does BEFORE publishing — the keyed front end
    (:func:`_prepare_keyed_edit`), the merge rewrite, data write, stats
    — packaged as the manifest EDIT ``_finish`` publishes: ``{base_head,
    removed, added, bounds, schema, stats_cols, dv_key, bloom, schemas,
    schema_id, constraints}``; the head instead when ``txn`` was already
    applied. Shared by the immediate :func:`merge_manifest_table` and
    the staged :func:`stage_merge_manifest_table` (write-audit-publish)."""
    from tibame_project_spark.operators.corrections import merge_upsert

    # a distributed batch is evaluated up to three times below (bounds
    # agg, key broadcast, merge rewrite — four with update_condition's
    # target join): persist it ONCE so a batch derived from an
    # expensive upstream pipeline (a CDC join, a staged read) is not
    # re-computed per evaluation — the first bounds agg materializes
    # the cache; released before return on every path. A batch the
    # CALLER already persisted is left alone (persist would no-op and
    # the unpersist would silently drop their cache). A batch that is
    # already a DRIVER-LOCAL relation (optimizer-folded LocalRelation —
    # the common CDC-micro-batch shape) is never persisted: its bounds
    # usually come from a zero-job collect of its key column and each
    # re-evaluation replays in-memory rows, while the persist would
    # cost a materialization job per commit.
    cached = cur_persisted = None
    if not source.is_cached and not _is_local_relation(source):
        source = cached = source.persist()

    def extra_fields(schema: StructType) -> list:
        # ADD-COLUMN schema evolution on MERGE (Delta's
        # withSchemaEvolution): batch columns the table lacks either
        # widen the schema (candidates rewrite under the new era,
        # carried files NULL-fill at read) or refuse LOUDLY — the silent
        # alternative (merge_upsert projecting them away) would let a
        # CDC source's new column vanish without a trace.
        # case-INSENSITIVE match, like Spark's own column resolution: a
        # source column drifting only in case ('Price' vs 'price') must
        # not evolve into a duplicate case-variant column that makes
        # every later read ambiguous (mirrors the IGNORECASE
        # constraint-reference guard in evolve_manifest_table)
        have_ci = {f.name.casefold() for f in schema.fields}
        if delete_col is not None:
            have_ci.add(delete_col.casefold())  # the tombstone is never an extra
        extras = [c for c in source.columns if c.casefold() not in have_ci]
        if extras and not allow_evolution:
            raise ValueError(
                f"merge batch adds columns {extras}; pass "
                "allow_evolution=True to widen the table schema "
                "(without it they would be silently dropped)"
            )
        return [source.schema[c] for c in extras]

    try:
        front = _prepare_keyed_edit(
            spark, source, base_path, key, verb="merge", txn=txn,
            extra_fields=extra_fields,
        )
        if isinstance(front, int):
            return front
        edit, meta, _, cand_files = front
        if cand_files is None:
            return edit
        schema, schema_id = edit["schema"], edit["schema_id"]
        touched = [r["path"] for r in cand_files]

        # candidate rows with their deletion vectors APPLIED — a merge must
        # not resurrect rows a DV commit already condemned; the rewrite then
        # clears the candidates' DVs (their new files are vector-free) — and
        # projected to the CURRENT schema, so a merge doubles as the
        # migration pass for pre-evolution files it touches
        current = _read_live(spark, base_path, cand_files, meta)
        have = set(current.columns)
        for fld in schema.fields:  # candidates lift into a widened schema
            if fld.name not in have:  # NULL-filled
                current = current.withColumn(
                    fld.name, F.lit(None).cast(fld.dataType)
                )
        # r15 single-file rewrite fusion (§2.4): the rewrite output is ONE
        # file (n_files = max(1, len(touched)) below) and its input bytes
        # fit one task — coalesce BOTH merge-join inputs to a single
        # partition. SinglePartition satisfies the join's required
        # ClusteredDistribution on each side with matching partition counts,
        # so the full-outer merge join (and update_condition's target join)
        # plans with ZERO exchanges: candidate-read → join(s) → sort → write
        # is one stage/one job instead of a 3-stage AQE chain per merge.
        # Multi-file rewrites keep the clustering exchange (it IS the
        # optimization at scale) and big candidates keep task parallelism.
        # one output file per touched file: byte-based sizing was tried and
        # REVERTED — fewer, wider files change which files later merges must
        # rewrite (wider min/max ranges swallow future candidates), which is
        # an observable layout change (evolution_cycle's live-era contract
        # tripped on it); the rewrite preserves the table's file granularity
        # the source side must fit one task too: a driver-local batch, or an
        # optimizer estimate within the bound (an unknown one, e.g. an
        # RDD-backed frame's Long.MaxValue, fails closed). With
        # update_condition the fused plan broadcasts the candidate rows
        # explicitly, so they must also fit the broadcast bound
        n_out = max(1, len(touched))
        fused = (
            n_out <= 1
            and _fits_one_task(f["bytes"] for f in cand_files)
            and (
                update_condition is None
                or sum(f["bytes"] for f in cand_files) <= _BROADCAST_MAX_BYTES
            )
            and (
                _is_local_relation(source)
                or _fits_one_task(
                    [source._jdf.queryExecution().optimizedPlan().stats()
                     .sizeInBytes()]
                )
            )
        )
        if update_condition is not None:
            # WHEN MATCHED AND <condition> (Delta's conditional merge) as a
            # SOURCE PRE-FILTER, so the fixpoint-critical full-row upsert
            # stays untouched: a matched source row whose condition is
            # false/NULL is dropped BEFORE the merge and the current row
            # carries forward; unmatched rows always insert (conditions
            # never gate WHEN NOT MATCHED); tombstones are gated too, so a
            # stale out-of-order CDC delete cannot undo a newer image. The
            # condition references source columns by NAME and the matched
            # current row's as t_<name> (e.g. "ts > t_ts" = last-writer-
            # wins). Replay stays a fixpoint: after the first apply the
            # condition compares a row against itself and keeps the target.
            # the t_<name> aliases are API (the condition references them),
            # so a source column that ALREADY spells t_<target-col> (or the
            # join key's internal __mck) would make the condition ambiguous
            # — AnalysisException deep in the join at best, a silently
            # misbound reference at worst. Refuse up front with names.
            taken = {
                f"t_{c}".casefold() for c in current.columns if c != key
            } | {"__mck"}
            clash = sorted(c for c in source.columns if c.casefold() in taken)
            if clash:
                raise ValueError(
                    f"update_condition cannot bind: source columns {clash} "
                    "collide with the t_<name> aliases of the matched target "
                    "row (or the internal __mck key); rename them in the "
                    "batch before the merge"
                )
            # the candidate rows are evaluated twice with a condition (the
            # t_<name> join below AND the merge rewrite) — persist them so
            # the candidate parquet files are read once; marked only now,
            # AFTER the condition expression parsed (an unparseable
            # condition must not leak a persist), and released in the
            # finally. The persist goes UNDER the fusion's coalesce:
            # InMemoryTableScan reports UnknownPartitioning, so caching the
            # COALESCED plan would bury the SinglePartition and
            # EnsureRequirements would re-exchange both merge-join sides —
            # exactly the shuffles the fusion removes.
            F.expr(update_condition)
            current = cur_persisted = current.persist()
        if fused:
            # both sides run in ONE clone (AQE off, unbounded single-partition
            # cap), losing no parallelism: each fits one task by the gate.
            # Moved before the expect gate attaches its Observation
            current, source = _in_clone(current, source)
            current, source = current.coalesce(1), source.coalesce(1)
        if update_condition is not None:
            # a condition referencing a nonexistent column raises at join
            # analysis: the finally releases the persist taken above
            cur_t = current.select(
                F.col(key).alias("__mck"),
                *[
                    F.col(c).alias(f"t_{c}")
                    for c in current.columns
                    if c != key
                ],
            )
            src_cols = source.columns
            # fused: cur_t is ≤ _BROADCAST_MAX_BYTES by the gate, so
            # broadcast it EXPLICITLY — a zero-candidate current is an
            # Arrow-built local frame (ExistingRDD, unknown size stats),
            # which the auto-broadcast threshold treats as huge and
            # plans as a sort-merge join whose exchanges re-partition
            # the single-partition chain the fusion just built
            cur_t_j = F.broadcast(cur_t) if fused else cur_t
            cand_j = source.join(
                cur_t_j, source[key] == cur_t["__mck"], "left"
            )
            source = cand_j.where(
                F.col("__mck").isNull()
                | F.coalesce(F.expr(update_condition), F.lit(False))
            ).select(*[source[c] for c in src_cols])
        rules = _constraint_rules(meta, delete_col)  # tombstones exempt
        if rules:
            expect = (list(expect) if expect else []) + rules
        source, gate = _expect_gate(source, expect, where)
        merged = merge_upsert(
            current, source, key, delete_col=delete_col, null_safe_keys=False
        )
        data_dir = f"data/c={_token()}"
        _write_data(merged, base_path, data_dir, key, n_out)
        gate()  # batch violations abort pre-marker: partial v is invisible
        edit["removed"] = touched
        edit["added"] = _file_stats(
            spark, base_path, data_dir, edit["stats_cols"], schema,
            meta.get("bloom"), schema_id=schema_id,
            null_stats=bool(meta.get("null_stats")),
        )
        return edit
    finally:
        if cur_persisted is not None:
            cur_persisted.unpersist()
        if cached is not None:
            cached.unpersist()


def stage_merge_manifest_table(
    spark: SparkSession,
    source: DataFrame,
    base_path: str,
    key: str,
    *,
    delete_col: str | None = None,
    expect: list | None = None,
    allow_evolution: bool = False,
) -> str:
    """Write-audit-publish, stage one (Iceberg's WAP pattern, on the
    manifest protocol): run the ENTIRE merge — candidate selection,
    rewrite, data write, per-file stats — but publish nothing. The
    prepared manifest edit lands under ``staged/<token>/`` (added
    manifest rows as parquet, scalars in ``stage.json``); the table's
    head and every reader are untouched, exactly like a crashed
    attempt's files. Audit the would-be table with
    :func:`read_staged_manifest` (or any expectation battery over it),
    then :func:`publish_staged_manifest` — which routes the stored edit
    through the SAME version-CAS ``_finish`` as a live merge, so a
    staged edit REBASES over concurrent disjoint commits and raises
    :class:`ConcurrentCommitError` on true conflicts, however long the
    audit took — or :func:`abandon_staged_manifest`. Returns the stage
    token.

    The staged data files live in the normal attempt-unique
    ``data/c=<t>`` dir; :func:`vacuum_manifest_table` treats files a
    stage references as live, so an audit window survives housekeeping —
    abandoning the stage is what releases them."""
    edit = _prepare_merge_edit(
        spark, source, base_path, key, delete_col=delete_col, expect=expect,
        where=f"stage_merge_manifest_table({base_path})",
        allow_evolution=allow_evolution,
    )
    return _persist_stage(spark, base_path, edit, op="merge")


def stage_delete_manifest_table(
    spark: SparkSession, keys: DataFrame, base_path: str, key: str
) -> str:
    """Write-audit-publish for a DELETION-VECTOR delete: the whole
    delete — candidate selection, condemned-pair scan, sidecar write,
    repoint — is prepared but unpublished. Same audit/publish/abandon
    lifecycle as :func:`stage_merge_manifest_table`; the staged sidecar
    (like the staged repointed rows' files) is vacuum-protected until
    the stage publishes or is abandoned. Returns the stage token."""
    edit = _prepare_delete_edit(spark, keys, base_path, key)
    return _persist_stage(spark, base_path, edit, op="delete")


def _persist_stage(
    spark: SparkSession, base_path: str, edit: dict, *, op: str
) -> str:
    """Persist a prepared manifest edit under ``staged/<token>/``: the
    added manifest rows as parquet, scalars (the key bounds too) in
    ``stage.json`` — which lands LAST, so a crash mid-stage leaves no
    stage record, only unreferenced files for vacuum, never a
    half-readable stage."""
    token = _token()
    key = edit["key"]
    if edit["added"] is not None:
        _materialize_manifest(
            spark, edit["added"], base_path, f"staged/{token}/add"
        )
    enc, _ = _bound_codec(edit["schema"][key].dataType)
    stage = {
        "op": op,
        "key": key,
        "base_head": edit["base_head"],
        "removed": edit["removed"],
        "has_added": edit["added"] is not None,
        "bounds": edit["bounds"] and [enc(v) for v in edit["bounds"][1:]],
        "schema": edit["schema"].jsonValue(),
        "stats_cols": edit["stats_cols"],
        "dv_key": edit["dv_key"],
        "bloom": edit["bloom"],
        "schemas": {str(k): v for k, v in edit["schemas"].items()},
        "schema_id": edit["schema_id"],
        # the CHECK set the staged rows were validated against: publish
        # refuses if it changed (a delete stages no new rows, but records
        # it anyway for the audit's consistency check)
        "constraints": edit.get("constraints") or {},
    }
    _write_text(
        spark, f"{base_path}/staged/{token}/stage.json", json.dumps(stage)
    )
    return token


def _bound_codec(kt):
    """(encode, decode) between a key bound and its ``stage.json``
    scalar. A timestamp is epoch microseconds: the instant, whatever the
    session time zone publish runs in (``datetime.timestamp`` keeps the
    fold of an ambiguous local time, which ``toInternal`` drops).
    Decoding gives what Spark's ``collect()`` gives, so the bounds
    compare with the stats :func:`_check_rebase` collects."""
    import decimal

    if isinstance(kt, DecimalType):
        return str, decimal.Decimal
    if isinstance(kt, TimestampType):
        return (lambda v: int(v.replace(microsecond=0).timestamp()) * 10**6
                + v.microsecond), kt.fromInternal
    return kt.toInternal, kt.fromInternal


def _read_stage(spark: SparkSession, base_path: str, token: str) -> dict:
    try:
        return json.loads(
            _read_text(spark, f"{base_path}/staged/{token}/stage.json")
        )
    except Exception as e:
        raise FileNotFoundError(
            f"no staged edit {token!r} under {base_path} (published, "
            "abandoned, or never completed staging)"
        ) from e


def read_staged_manifest(
    spark: SparkSession, base_path: str, token: str, *, prune: str | None = None
) -> DataFrame:
    """The AUDIT read of write-audit-publish: what the table WOULD hold
    if the staged edit were published against the CURRENT head — the
    head's manifest minus the stage's replaced files plus its added
    ones, through the normal live-read path (era projections, deletion
    vectors, optional ``prune=``). If a concurrent commit lands between
    audit and publish, publish itself re-arbitrates (rebase or loud
    conflict) — the audit is a preview, the CAS is the gate."""
    st = _read_stage(spark, base_path, token)
    head = read_manifest_version(spark, base_path)
    if head is None:
        raise FileNotFoundError(f"no committed manifest table under {base_path}")
    head_meta = _meta(spark, base_path, head)
    if head_meta["schema"] != st["schema"]:
        # a schema change landed since staging: the staged manifest rows
        # carry the OLD stats/Bloom column names, so a unioned preview
        # would be silently wrong — and publish would conflict anyway
        # (schema races are never rebased). Fail the audit the same way.
        raise ConcurrentCommitError(
            f"staged edit {token!r} under {base_path} was prepared against "
            "a different table schema — the stage is stale; abandon it and "
            "re-stage against the current head"
        )
    if st["op"] == "merge" and (
        (head_meta.get("constraints") or {}) != (st.get("constraints") or {})
    ):
        # same staleness class: the staged rows were gated against the
        # OLD constraint set, so the preview would bless rows publish
        # must refuse (and does, under its claim)
        raise ConcurrentCommitError(
            f"staged edit {token!r} under {base_path} was validated against "
            "a different CHECK constraint set — the stage is stale; abandon "
            "it and re-stage against the current head"
        )
    # the edit publish would apply (_finish step 2), applied here
    man = _edit_manifest(
        _load_manifest(spark, base_path, head),
        st["removed"],
        _read_arrow(spark, f"{base_path}/staged/{token}/add")
        if st["has_added"]
        else None,
    )
    files = _manifest_files(spark, man, ["path", "dv_path", "schema_id"], prune)
    meta = head_meta
    if st.get("dv_key") is not None:
        # a staged FIRST delete fixes the DV key only in the stage record
        # (the head's meta learns it at publish) — the audit read needs it
        meta = dict(meta, dv_key=st["dv_key"])
    return _read_live(spark, base_path, files, meta)


def publish_staged_manifest(
    spark: SparkSession, base_path: str, token: str, *, keep: int = 2
) -> int:
    """Write-audit-publish, publish: route the staged edit through the
    version-CAS commit path. Disjoint concurrent commits since staging
    are rebased over exactly as for a live merge; commits that rewrote
    the stage's read set or touched its key range raise
    :class:`ConcurrentCommitError` (re-stage against the new head);
    a base head pruned past retention during a long audit raises too —
    size ``keep`` to the audit window. Consumes the stage record on
    success. Returns the committed version.

    Crash contract: a publish that died AFTER its commit marker but
    before consuming the stage leaves a spent stage record whose
    re-publish CONFLICTS (its own committed edit removed the same files)
    — loud and safe, never a silent double-apply; verify the head with
    :func:`manifest_history` and abandon the spent stage."""
    st = _read_stage(spark, base_path, token)
    added = None
    if st["has_added"]:
        added = _read_arrow(spark, f"{base_path}/staged/{token}/add")
    bounds = None
    if st["bounds"] is not None:
        _, dec = _bound_codec(StructType.fromJson(st["schema"])[st["key"]].dataType)
        bounds = (st["key"], *map(dec, st["bounds"]))
    version = _finish(
        spark,
        base_path,
        schema=StructType.fromJson(st["schema"]),
        stats_cols=st["stats_cols"],
        keep=keep,
        base_head=st["base_head"],
        removed=frozenset(st["removed"]),
        added=added,
        bounds=bounds,
        dv_key=st.get("dv_key"),
        bloom=st.get("bloom"),
        op=st["op"],
        schemas={int(k): v for k, v in st["schemas"].items()},
        schema_id=st["schema_id"],
        # a merge stages NEW ROWS validated against the constraint set it
        # read; if an add_manifest_constraint landed since (zero file
        # edits — the rebase path alone would wave it through), those
        # rows were never checked against the new rule. Deletes stage no
        # rows, so they publish regardless of constraint churn.
        require_constraints=(
            (st.get("constraints") or {}) if st["op"] == "merge" else None
        ),
    )
    # the manifest now references the data files; the stage record (and
    # its copy of the added rows) is spent
    fs, _, jvm = _fs_for(spark, base_path)
    fs.delete(_hadoop_path(jvm, f"{base_path}/staged/{token}"), True)
    return version


def abandon_staged_manifest(spark: SparkSession, base_path: str, token: str) -> None:
    """Drop a staged edit without publishing. Its data files become
    unreferenced (no manifest ever pointed at them) and the next
    :func:`vacuum_manifest_table` reclaims them."""
    fs, _, jvm = _fs_for(spark, base_path)
    p = _hadoop_path(jvm, f"{base_path}/staged/{token}")
    if not fs.delete(p, True):
        raise FileNotFoundError(f"no staged edit {token!r} under {base_path}")


def list_staged_manifests(spark: SparkSession, base_path: str) -> dict[str, dict]:
    """``{token: {op, key, base_head}}`` for every pending staged edit —
    the audit-queue listing."""
    fs, _, jvm = _fs_for(spark, base_path)
    root = _hadoop_path(jvm, f"{base_path}/staged")
    if not fs.exists(root):
        return {}
    out: dict[str, dict] = {}
    for st in fs.listStatus(root):
        token = st.getPath().getName()
        try:
            rec = _read_stage(spark, base_path, token)
        except FileNotFoundError:
            continue  # crashed mid-stage: no stage.json, vacuum's problem
        out[token] = {
            "op": rec["op"], "key": rec["key"], "base_head": rec["base_head"]
        }
    return dict(sorted(out.items()))


def manifest_table_stats(
    spark: SparkSession, base_path: str, *, version: int | None = None
) -> dict:
    """Table-level statistics for FREE — no data scan, just the manifest:
    total physical rows/bytes, file count, and the global min/max per
    declared stats column (fold of the per-file ranges). The scan-free
    twin of ``catalog.analyze_table``: at 100 TB an ANALYZE pass costs a
    full read, while a manifest table already holds every number the
    optimizer wants — feed ``numRows``/``sizeInBytes`` into a catalog
    twin's ``spark.sql.statistics.*`` table properties (or just use
    ``rows`` to pick broadcast sides) after every commit, at metadata
    cost.

    ``rows``/``bytes`` are PHYSICAL: files carrying a deletion vector
    still count their condemned rows (the manifest records what is on
    disk; ``n_dv_files`` tells you how many files carry vectors so a
    caller can decide whether the bound is tight enough).

    The fold runs in Arrow over the driver-side manifest (no Spark job);
    the one result row converts through ``spark.createDataFrame`` (a
    LocalRelation), so values come back as Spark's Python types. Float
    extremes keep Spark's order, NaN above every double: the global max
    is NaN when any file's is, the min only when every file's is."""
    import pyarrow as pa
    import pyarrow.compute as pc

    man = _committed_manifest(spark, base_path, version)

    def total(c):
        return pa.scalar(pc.sum(man.column(c)).as_py() or 0, pa.int64())

    def extreme(c, fold):
        col = man.column(c)
        if not pa.types.is_floating(col.type):
            return fold(col)
        nan = pc.fill_null(pc.is_nan(col), False)
        v = fold(col.filter(pc.invert(nan)))
        if pc.any(nan).as_py() and (fold is pc.max or not v.is_valid):
            return pa.scalar(math.nan, col.type)
        return v

    out = {
        "rowCount": total("rows"),
        "sizeInBytes": total("bytes"),
        "numFiles": pa.scalar(man.num_rows, pa.int64()),
        "n_dv_files": pa.scalar(
            man.num_rows - man.column("dv_path").null_count, pa.int64()
        ),
    }
    names = man.schema.names
    for c in [n[len("min_"):] for n in names if n.startswith("min_")]:
        out[f"min_{c}"] = extreme(f"min_{c}", pc.min)
        out[f"max_{c}"] = extreme(f"max_{c}", pc.max)
        if f"nulls_{c}" in names:
            # null_stats tables: the global nullCount is a free fold too
            out[f"nulls_{c}"] = total(f"nulls_{c}")
    row = spark.createDataFrame(
        pa.table({k: pa.array([v.as_py()], v.type) for k, v in out.items()})
    ).first()
    return row.asDict()


def bloom_prune_expr(
    spark: SparkSession,
    base_path: str,
    col: str,
    values: list,
    *,
    version: int | None = None,
) -> str:
    """A ``prune=`` expression selecting files whose ``col`` Bloom filter
    may contain ANY of ``values`` — equality/IN-list file skipping for
    unclustered columns. Compose with range conjuncts freely:
    ``read_manifest_table(..., prune=f"{bloom_prune_expr(...)} AND ...")``.

    The probe positions are computed with the same JVM ``xxhash64`` the
    build used (one tiny local job, never a scan), then rendered as pure
    SQL over the manifest's map<word, bits> column, so the existing
    ``prune=`` machinery evaluates it with no new code path. NULL-filter
    files (pre-bloom history, or a commit class that skipped the build)
    are KEPT — absence of evidence never skips.

    Probes are SCHEMA-ERA-AWARE: a file's filter hashed the column as the
    type it was WRITTEN under, and Spark's xxhash64 hashes int and long
    (or float and double) differently — so after a type widening, the
    expression branches on the manifest's ``schema_id``, probing each
    era's files with values hashed as that era's physical type. Widened
    tables keep skipping exactly."""
    if version is None:
        version = read_manifest_version(spark, base_path)
        if version is None:
            raise FileNotFoundError(f"no committed manifest table under {base_path}")
    meta = _meta(spark, base_path, version)
    bloom = meta.get("bloom")
    if not bloom or col not in bloom["cols"]:
        raise ValueError(
            f"{col!r} has no Bloom filter (declared: "
            f"{bloom['cols'] if bloom else None})"
        )
    if not values:
        return "false"
    m, k = bloom["m"], bloom["k"]
    from pyspark.sql.types import StructField

    registry, cur_id = _registry(meta)
    field_id = next(
        f["id"] for f in registry[cur_id] if f["name"] == col
    )
    # group schema eras by the column's PHYSICAL type — one probe set per
    # distinct type, one schema_id branch per era group
    eras: dict[str, list[int]] = {}
    for sid, fields in registry.items():
        f = next((x for x in fields if x["id"] == field_id), None)
        if f is not None:
            eras.setdefault(json.dumps(f["type"]), []).append(sid)
    schema = StructType.fromJson(meta["schema"])
    base_vdf = local_rows_df(
        spark, [(v,) for v in values],
        StructType([StructField("v", schema[col].dataType)]),
    )

    def pos_cols():
        return [
            F.pmod(F.xxhash64(F.col("v"), F.lit(i)), F.lit(m))
            .cast("int")
            .alias(f"p{i}")
            for i in range(k)
        ]

    def alts_from(rows) -> str:
        alts = []
        for r in rows:
            conj = []
            for i in range(k):
                p = r[f"p{i}"]
                w, b = p // 64, p % 64
                # shiftleft, not a literal: the b=63 mask is
                # Long.MIN_VALUE, which no SQL long literal can spell
                mask = f"shiftleft(1L, {b})"
                conj.append(
                    f"(coalesce(element_at(bloom_{col}, {w}) & {mask}, 0L)"
                    f" = {mask})"
                )
            alts.append("(" + " AND ".join(conj) + ")")
        return " OR ".join(alts)

    if len(eras) == 1:
        rows = base_vdf.select(*pos_cols()).collect()
        return f"(bloom_{col} IS NULL OR {alts_from(rows)})"
    # ONE job for ALL eras: each union branch try_casts the probe values
    # to its era's physical type and hashes INSIDE the branch, so the
    # union's output is just k int positions + an era tag — cross-era
    # type coercion never touches a hashed value, and probe cost stays
    # one tiny job however many eras the table has accreted. try_cast
    # DROPS values an era's type cannot even represent (e.g. a
    # post-widening key beyond int range): no file written under that
    # era can contain them — and an era left with zero representable
    # probes contributes no branch at all, which SKIPS all its files
    # (exact, not lossy).
    frames = []
    for tj in sorted(eras):
        t = _type_from_json(json.loads(tj))
        frames.append(
            base_vdf.select(F.col("v").try_cast(t).alias("v"))
            .where(F.col("v").isNotNull())
            .select(F.lit(tj).alias("__era"), *pos_cols())
        )
    un = frames[0]
    for f2 in frames[1:]:
        un = un.unionByName(f2)
    by_era: dict[str, list] = {}
    for r in un.collect():
        by_era.setdefault(r["__era"], []).append(r)
    branches = []
    for tj, sids in sorted(eras.items()):
        alts = alts_from(by_era.get(tj, []))
        if not alts:
            continue
        ids = ", ".join(str(s) for s in sorted(sids))
        branches.append(f"(schema_id IN ({ids}) AND ({alts}))")
    if not branches:
        return f"(bloom_{col} IS NULL)"
    return f"(bloom_{col} IS NULL OR {' OR '.join(branches)})"


_SKIP_CMP = {
    # simpleName -> (stats template when the attribute is on the LEFT)
    "GreaterThan": "max_{c} > {v}",
    "GreaterThanOrEqual": "max_{c} >= {v}",
    "LessThan": "min_{c} < {v}",
    "LessThanOrEqual": "min_{c} <= {v}",
}
#: literal-on-the-left comparisons flip to these
_SKIP_FLIP = {
    "GreaterThan": "LessThan",
    "GreaterThanOrEqual": "LessThanOrEqual",
    "LessThan": "GreaterThan",
    "LessThanOrEqual": "GreaterThanOrEqual",
}


#: type families whose mutual comparisons coerce IDENTICALLY in the row
#: predicate and in the min/max prune (both sides widen within the family)
_SKIP_NUMERIC = frozenset({
    "ByteType", "ShortType", "IntegerType", "LongType",
    "FloatType", "DoubleType", "DecimalType",
})
_SKIP_TIME = frozenset({"DateType", "TimestampType", "TimestampNTZType"})


def _skip_order_compatible(col_dt, lit) -> bool:
    """True when comparing ``lit`` against the column's min/max stats
    orders the SAME way as the row predicate orders the column itself.
    A cross-family pair is the confirmed over-prune class: e.g. a string
    column against an int literal compares numerically row-side
    (cast('10')=10 > 9) but lexicographically stats-side (max='9'),
    so the orders disagree and a matching file gets skipped. Same-family
    numeric/time pairs widen identically on both sides; exact matches
    are trivially safe; everything else contributes no constraint."""
    col = type(col_dt).__name__
    name = lit.dataType().getClass().getSimpleName().rstrip("$")
    if col == name:
        return True
    return (col in _SKIP_NUMERIC and name in _SKIP_NUMERIC) or (
        col in _SKIP_TIME and name in _SKIP_TIME
    )


def _skip_bloom_value(col_dt, lit):
    """The Python probe value for the Bloom leg, or None to skip it.
    Stricter than the range legs: the probe is HASHED as the column's
    declared type, so the literal must already BE that family — a string
    column probed with int 5 would hash the canonical '5' and miss files
    holding '05', rows the coerced row equality accepts (confirmed
    silent row loss). Strings probe string columns, integral literals
    probe integral columns, booleans never probe."""
    try:
        v = lit.value()
    except Exception:
        return None
    col = type(col_dt).__name__
    name = lit.dataType().getClass().getSimpleName().rstrip("$")
    if isinstance(v, bool) or name == "BooleanType":
        return None
    if col == "StringType" and name == "StringType":
        return str(v)
    integral = {"ByteType", "ShortType", "IntegerType", "LongType"}
    if col in integral and name in integral and isinstance(v, int):
        return v
    return None


def _skip_attr_lit(kids):
    """(stats-attr-name, literal-node, flipped) for a comparison's two
    children when one side is a plain column and the other a non-NULL
    literal — anything else (expressions over columns, casts, NULL) is
    untranslatable and returns None."""
    a, b = kids
    an = a.getClass().getSimpleName()
    bn = b.getClass().getSimpleName()
    if an == "UnresolvedAttribute" and bn == "Literal" and b.value() is not None:
        return a.name(), b, False
    if bn == "UnresolvedAttribute" and an == "Literal" and a.value() is not None:
        return b.name(), a, True
    return None


def _skip_next_literal_char(o: int) -> str | None:
    """The smallest codepoint > ``o`` that can sit inside a single-quoted
    Spark SQL string literal unescaped AND survive the py4j transport:
    skips the quote and backslash (either would corrupt the emitted
    ``min_c < '<upper>'`` literal) and the whole surrogate block
    (U+D800–DFFF — a lone surrogate is not valid UTF-8 and breaks the
    gateway). None above U+10FFFF. Used for the LIKE-prefix upper bound,
    where any successor codepoint is superset-safe."""
    o += 1
    while o <= 0x10FFFF:
        if o in (0x27, 0x5C):  # ' and \
            o += 1
            continue
        if 0xD800 <= o <= 0xDFFF:
            o = 0xE000
            continue
        return chr(o)
    return None


def _skip_cmp(kind: str, kids, stats, types) -> str | None:
    """The min/max prune of one ``<``/``<=``/``>``/``>=`` comparison
    between a stats column and a type-compatible non-NULL literal
    (either side; a literal on the left flips the operator), else
    None."""
    hit = _skip_attr_lit(kids)
    if hit is None:
        return None
    name, lit, flipped = hit
    c = stats.get(name.casefold())
    if c is None or not _skip_order_compatible(types.get(name.casefold()), lit):
        return None
    op = _SKIP_FLIP[kind] if flipped else kind
    return _SKIP_CMP[op].format(c=c, v=lit.sql())


def _skip_walk(spark, base_path, version, node, stats, null_stats, bloom_cols, types):
    """One prune conjunct for ``node``'s subtree, or None when the
    subtree proves nothing about file-level stats (conservative: no
    constraint). Every returned expression is a SUPERSET filter — a file
    that may hold a matching row always survives it."""
    kind = node.getClass().getSimpleName()
    ch = node.children()
    kids = [ch.apply(i) for i in range(ch.size())]
    if kind == "And":
        parts = [
            _skip_walk(
                spark, base_path, version, k, stats, null_stats,
                bloom_cols, types,
            )
            for k in kids
        ]
        parts = [p for p in parts if p is not None]
        return " AND ".join(f"({p})" for p in parts) if parts else None
    if kind == "Or":
        parts = [
            _skip_walk(
                spark, base_path, version, k, stats, null_stats,
                bloom_cols, types,
            )
            for k in kids
        ]
        if any(p is None for p in parts) or not parts:
            return None  # one untranslatable side voids the disjunction
        return " OR ".join(f"({p})" for p in parts)
    if kind in ("EqualTo", "EqualNullSafe") and len(kids) == 2:
        hit = _skip_attr_lit(kids)
        if hit is None:
            return None
        name, lit, _ = hit
        dt = types.get(name.casefold())
        parts = []
        c = stats.get(name.casefold())
        if c is not None and _skip_order_compatible(dt, lit):
            v = lit.sql()
            parts.append(f"min_{c} <= {v} AND max_{c} >= {v}")
        bc = bloom_cols.get(name.casefold())  # Bloom-only columns count too
        pv = _skip_bloom_value(dt, lit) if bc else None
        if pv is not None:
            try:
                parts.append(
                    bloom_prune_expr(spark, base_path, bc, [pv], version=version)
                )
            except Exception:
                pass  # the range tier alone is still a safe superset
        return " AND ".join(f"({p})" for p in parts) if parts else None
    if kind in _SKIP_CMP and len(kids) == 2:
        return _skip_cmp(kind, kids, stats, types)
    if (
        kind == "UnresolvedFunction"
        and len(kids) == 3
        and node.nameParts().mkString(".").casefold() == "between"
    ):
        # Spark parses `c BETWEEN a AND b` as between(c, a, b) and
        # rewrites it to `c >= a AND c <= b`: translate exactly that
        # (NOT BETWEEN is a Not above this node — no constraint)
        parts = [
            _skip_cmp(k, [kids[0], b], stats, types)
            for k, b in (("GreaterThanOrEqual", kids[1]),
                         ("LessThanOrEqual", kids[2]))
        ]
        parts = [p for p in parts if p is not None]
        return " AND ".join(f"({p})" for p in parts) if parts else None
    if kind == "In" and len(kids) >= 2:
        if kids[0].getClass().getSimpleName() != "UnresolvedAttribute":
            return None
        name = kids[0].name()
        vals = []
        for k in kids[1:]:
            if k.getClass().getSimpleName() != "Literal":
                return None
            if k.value() is None:
                continue  # NULL in-list element never matches a row
            vals.append(k)
        if not vals:
            return None
        dt = types.get(name.casefold())
        parts = []
        c = stats.get(name.casefold())
        if c is not None and all(
            _skip_order_compatible(dt, k) for k in vals
        ):
            parts.append(" OR ".join(
                f"(min_{c} <= {k.sql()} AND max_{c} >= {k.sql()})"
                for k in vals
            ))
        bc = bloom_cols.get(name.casefold())  # Bloom-only columns count too
        if bc:
            pvs = [_skip_bloom_value(dt, k) for k in vals]
            if all(p is not None for p in pvs):
                try:
                    parts.append(bloom_prune_expr(
                        spark, base_path, bc, pvs, version=version
                    ))
                except Exception:
                    pass
        return " AND ".join(f"({p})" for p in parts) if parts else None
    if kind == "IsNull" and len(kids) == 1 and null_stats:
        if kids[0].getClass().getSimpleName() != "UnresolvedAttribute":
            return None
        c = stats.get(kids[0].name().casefold())
        return f"nulls_{c} > 0" if c is not None else None
    if kind == "IsNotNull" and len(kids) == 1:
        if kids[0].getClass().getSimpleName() != "UnresolvedAttribute":
            return None
        c = stats.get(kids[0].name().casefold())
        if c is None:
            return None
        if null_stats:
            return f"nulls_{c} < rows"
        # min/max proxy, no null_stats needed: an all-NULL file's min
        # folds to NULL (and only an all-NULL file can be skipped here)
        return f"min_{c} IS NOT NULL"
    if kind == "Like" and len(kids) == 2:
        # pure-PREFIX patterns only ('abc%'): matching values sort in
        # [prefix, next-string-after-all-prefixed), so the file range
        # check is max_c >= prefix AND min_c < incremented(prefix) —
        # Delta's startsWith translation. Wildcards mid-pattern, escape
        # chars, quotes, or a leading % prove nothing file-level.
        hit = _skip_attr_lit(kids)
        if hit is None:
            return None
        name, lit, flipped = hit
        c = stats.get(name.casefold())
        dt = types.get(name.casefold())
        if flipped or c is None or type(dt).__name__ != "StringType":
            return None
        pat = str(lit.value())
        if not pat.endswith("%"):
            return None
        prefix = pat[:-1]
        if any(ch in prefix for ch in ("%", "_", "\\", "'")) or not prefix:
            return None
        # Upper bound: increment the last char, SKIPPING codepoints that
        # cannot ride a Spark SQL string literal — a quote or backslash
        # breaks the quoting ('ab[' + 1 = 'ab\\' would backslash-escape
        # the closing quote: ParseException on a valid predicate) and a
        # lone surrogate (U+D800–DFFF, e.g. U+D7FF + 1) breaks the py4j
        # transport. Skipping FORWARD stays superset-safe: any upper >
        # the exact increment admits more files, never fewer.
        upper = None
        for i in range(len(prefix) - 1, -1, -1):
            nxt = _skip_next_literal_char(ord(prefix[i]))
            if nxt is not None:
                upper = prefix[:i] + nxt
                break
        expr = f"max_{c} >= '{prefix}'"
        if upper is not None:
            expr += f" AND min_{c} < '{upper}'"
        return expr
    return None  # NOT, functions, casts, subqueries: no constraint


def data_skipping_expr(
    spark: SparkSession,
    base_path: str,
    predicate: str,
    *,
    version: int | None = None,
    meta: dict | None = None,
) -> str | None:
    """Derive a ``prune=`` expression FROM a row predicate — Delta's
    transparent data skipping as an explicit verb. Walks the Catalyst
    parse tree of ``predicate`` and translates every part it can prove
    file-level: comparisons, BETWEEN and IN-lists against stats columns
    become min/max range checks (plus per-era Bloom probes for
    equality/IN on Bloom columns), IS [NOT] NULL becomes a null-count
    check on ``null_stats`` tables, AND keeps any translatable side, OR
    requires both. Everything else — NOT, functions, casts, column-to-column,
    and any literal whose TYPE FAMILY differs from the column's
    (cross-family predicates coerce numerically row-side but would
    compare raw stats prune-side: ``string_col > 9`` matches '10'
    numerically while lexicographic max '9' skips its file — the one
    confirmed over-prune class, refused by :func:`_skip_order_compatible`
    / :func:`_skip_bloom_value`) — contributes NO constraint, so the
    derived expression is always a SUPERSET of the files holding
    matching rows (the caller still applies the exact row filter).
    Returns None when nothing translates (scan everything, exactly as
    without it). ``meta=`` lets a caller that already loaded the
    version's commit meta skip the re-read.

    ``read_manifest_table(where=...)`` applies this automatically; this
    verb exists for callers composing the expression with their own
    ``prune=`` terms or inspecting what a predicate buys them."""
    if version is None:
        version = read_manifest_version(spark, base_path)
        if version is None:
            raise FileNotFoundError(
                f"no committed manifest table under {base_path}"
            )
    if meta is None:
        meta = _meta(spark, base_path, version)
    stats = {c.casefold(): c for c in meta["stats_cols"]}
    bloom = meta.get("bloom") or {}
    bloom_cols = {c.casefold(): c for c in bloom.get("cols", [])}
    schema = StructType.fromJson(meta["schema"])
    types = {
        f.name.casefold(): f.dataType
        for f in schema.fields
        if f.name.casefold() in stats or f.name.casefold() in bloom_cols
    }
    node = (
        spark._jsparkSession.sessionState().sqlParser()
        .parseExpression(predicate)
    )
    return _skip_walk(
        spark, base_path, version, node, stats,
        bool(meta.get("null_stats")), bloom_cols, types,
    )


def delete_manifest_table(
    spark: SparkSession,
    keys: DataFrame,
    base_path: str,
    key: str,
    *,
    keep: int = 2,
    txn: tuple[str, int] | None = None,
) -> int:
    """DELETE by key with **deletion vectors** (Delta Lake's public DV
    design, re-expressed on the manifest): instead of rewriting every
    file that holds a condemned row — the dominant cost of
    tombstone-heavy workloads like corpus curation, where a 1%
    condemnation rate can touch most files — the commit writes a
    per-file sidecar of condemned keys under ``dv/v=<n>/`` and repoints
    the affected manifest entries' ``dv_path``. ZERO data files are
    rewritten; reads anti-join the sidecars (condemned-set-sized,
    broadcast). Subsequent deletes UNION into a fresh sidecar (vectors
    only grow, so stale sidecar generations are always subsets — safe
    for any reader), and the next merge/compaction touching a file folds
    its vector in and clears it.

    ``key`` must be a declared stats column (candidate files are found
    by the merge's own finder, :func:`_prepare_keyed_edit`: driver-side
    for a driver-local batch, folded into the one bounds aggregate for a
    small table, bounds overlap plus broadcast semi-join for a big one)
    and is fixed as
    the table's DV key on first use — sidecars store (file, key) pairs
    and reads must know which column they condemn. Manifest ``rows``/
    ``bytes`` stay PHYSICAL for DV'd files (compaction thresholds and
    scan costs are physical properties); min/max stats stay conservative.
    Returns the committed version (a no-op delete still commits, so the
    caller always gets a version to read back).

    ``txn=(app_id, version)`` makes the commit idempotent — see
    :func:`append_manifest_table`."""
    edit = _prepare_delete_edit(spark, keys, base_path, key, txn=txn)
    if isinstance(edit, int):  # txn already applied: the replay no-ops
        return edit
    return _finish(
        spark, base_path, schema=edit["schema"], stats_cols=edit["stats_cols"],
        keep=keep, base_head=edit["base_head"],
        removed=frozenset(edit["removed"]), added=edit["added"],
        bounds=edit["bounds"], dv_key=edit["dv_key"], bloom=edit["bloom"],
        op="delete", schemas=edit["schemas"], schema_id=edit["schema_id"],
        txn=txn,
    )


def _prepare_delete_edit(
    spark: SparkSession,
    keys: DataFrame,
    base_path: str,
    key: str,
    txn: tuple[str, int] | None = None,
):
    """Everything a DV DELETE does BEFORE publishing — the keyed front
    end (:func:`_prepare_keyed_edit`), the condemned-pair scan, the
    sidecar write, the repoint — packaged as the manifest edit
    ``_finish`` publishes; the head instead when ``txn`` was already
    applied. Shared by the immediate :func:`delete_manifest_table` and
    the staged :func:`stage_delete_manifest_table` (write-audit-publish)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    front = _prepare_keyed_edit(
        spark, keys, base_path, key, verb="delete", txn=txn
    )
    if isinstance(front, int):
        return front
    edit, _, man, cand_files = front
    if not cand_files:
        # an empty batch, or no candidates — the latter still a
        # range-reading edit: "no candidates" is a statement about this
        # key range, so a concurrent commit INTO the range must
        # conflict, not silently serialize after the no-op
        return edit
    touched = [r["path"] for r in cand_files]
    key_type = edit["schema"][key].dataType
    schemas = edit["schemas"]
    # the condemned (file, key) pairs actually PRESENT in candidate files:
    # one scan of the candidates (per schema era, lifted to the CURRENT
    # schema), semi-joined against the batch's distinct keys
    kdist = keys.select(F.col(key).alias("__key")).distinct()
    present = (
        _scan_eras(
            spark, base_path, cand_files, schemas, schemas[edit["schema_id"]],
            path=True,
        )
        .select("__path", F.col(key).alias("__key"))
        .join(F.broadcast(kdist), "__key", "leftsemi")
        .select("__path", "__key")
    )
    # union in the touched files' EXISTING vectors so each file's sidecar
    # generation is complete on its own (readers never chase chains);
    # the one known-schema sidecar scan reads pre-widening generations
    # promoted to the current key type; sidecars and _metadata
    # extraction both speak the TRAILING form
    # (== the manifest path on a normal table; a clone's absolute source
    # paths reduce to it), so all comparisons below go through _trail
    old_dirs = sorted({r["dv_path"] for r in cand_files if r["dv_path"]})
    if old_dirs:
        olds = (
            _read_dv_sidecars(spark, base_path, old_dirs, key_type)
            .select(F.col("__dvp").alias("__path"), "__key")
            .where(F.col("__path").isin([_trail(p) for p in touched]))
        )
        present = present.unionByName(olds)
    dv_dir = f"dv/c={_token()}"
    # r15 single-file fusion (same gate as the merge rewrite): when the
    # candidate set is one small file, run the condemned-pair distinct
    # in ONE partition — SinglePartition satisfies the aggregation's
    # required distribution, so the distinct's exchange (and its AQE
    # stage boundary) disappears and scan → semi-join → distinct →
    # sidecar write is a single job. Bigger candidate sets keep the
    # parallel distinct. The fused distinct runs in :func:`_in_clone`'s
    # session (one job where the caller's session runs three): its input
    # is one small file's keys, so AQE-off and the unbounded
    # single-partition cap cost it no parallelism.
    if len(cand_files) <= 1 and _fits_one_task(
        f["bytes"] for f in cand_files
    ):
        (sidecar,) = _in_clone(present.coalesce(1).distinct())
    else:
        sidecar = present.distinct().coalesce(1)
    sidecar.write.mode("overwrite").parquet(f"{base_path}/{dv_dir}")
    # a no-hit delete still FIXES the table's DV key (first use)
    edit["dv_key"] = key
    # repoint ONLY files with at least one condemned pair in the new
    # sidecar — a min/max-range candidate that turned out to hold none of
    # the batch keys (and carried no prior vector) must NOT take the DV
    # anti-join read path forever or inflate n_dv_files. The just-written
    # sidecar is a single small local file: read its path column
    # driver-side (zero jobs) when Arrow can; distributed read otherwise
    hit = _read_back_local(
        base_path, dv_dir, ["__path"],
        lambda t: set(pc.unique(t.column("__path")).to_pylist()),
    )
    if hit is None:
        hit = {
            r["__path"]
            for r in spark.read.parquet(f"{base_path}/{dv_dir}")
            .select("__path")
            .distinct()
            .collect()
        }
    repoint = [p for p in touched if _trail(p) in hit]
    if not repoint:
        return edit
    # the commit as a manifest edit: drop the repointed files' old
    # entries, re-add them with the fresh sidecar — what lets _finish
    # rebase it over concurrent commits that left these files alone
    edit["removed"] = repoint
    added = man.filter(
        pc.fill_null(
            pc.is_in(
                man.column("path"),
                value_set=pa.array(repoint, type=pa.string()),
            ),
            False,
        )
    )
    edit["added"] = added.set_column(
        added.schema.get_field_index("dv_path"),
        pa.field("dv_path", pa.string()),
        pa.array([dv_dir] * added.num_rows, type=pa.string()),
    )
    return edit


def compact_manifest_table(
    spark: SparkSession,
    base_path: str,
    *,
    small_bytes: int = 32 * 1024 * 1024,
    target_bytes: int = 128 * 1024 * 1024,
    keep: int = 2,
    recluster: str | list[str] | None = None,
    zorder_bits: int = 16,
) -> int | None:
    """OPTIMIZE: fold files under ``small_bytes`` into ~``target_bytes``
    files as a new commit; content is bit-identical, large files are
    carried forward untouched. Small files carrying a deletion vector are
    folded with the vector APPLIED and come out vector-free — compaction
    doubles as the DV-materialization pass, exactly Delta's OPTIMIZE
    semantics. The small-file antidote for streaming / frequent-merge
    tables — run it out of band, like the formats do. Returns the new
    version, or None (no commit) when fewer than two small files exist.

    ``recluster`` turns the pass into Delta's OPTIMIZE ZORDER: EVERY live
    file (not just small ones) is rewritten range-clustered on the given
    column(s) — two or more columns cluster on their Morton interleaving,
    same contract as ``write_manifest_table(cluster_by=...)`` — so a
    table whose ingest order decayed its clustering recovers its
    ``prune=`` skip ratios without a manual rebuild. Content is still
    bit-identical (DVs applied and cleared); schema-era stragglers come
    out migrated to the current schema as a side effect. Returns None
    only when the table has no live files."""
    fs, listing, head, version = _begin(spark, base_path)
    if head is None:
        raise FileNotFoundError(f"no committed manifest table under {base_path}")
    meta = _meta(spark, base_path, head)
    stats_cols = meta["stats_cols"]
    schema = StructType.fromJson(meta["schema"])
    candidates = _load_manifest(spark, base_path, head).select(
        ["path", "bytes", "dv_path", "schema_id"]
    ).to_pylist()
    if recluster is not None:
        if not candidates:
            return None
        op = "recluster"
    else:
        candidates = [
            r for r in candidates
            if r["bytes"] is not None and r["bytes"] < small_bytes
        ]
        if len(candidates) < 2:
            return None
        op = "compact"
    total = sum(r["bytes"] for r in candidates)
    n_out = max(1, math.ceil(total / target_bytes))
    folded = _read_live(spark, base_path, candidates, meta)
    schemas, schema_id = _registry(meta)
    data_dir = f"data/c={_token()}"
    _write_data(folded, base_path, data_dir, recluster, n_out, zorder_bits)
    new_rows = _file_stats(
        spark, base_path, data_dir, stats_cols, schema, meta.get("bloom"),
        schema_id=schema_id, null_stats=bool(meta.get("null_stats")),
    )
    # read set = the folded files; concurrent appends of NEW files rebase
    # cleanly (they just stay uncompacted this round), but a concurrent
    # delete repointing a folded file conflicts
    return _finish(
        spark,
        base_path,
        schema=schema,
        stats_cols=stats_cols,
        keep=keep,
        base_head=head,
        removed=frozenset(r["path"] for r in candidates),
        added=new_rows,
        dv_key=meta.get("dv_key"),
        bloom=meta.get("bloom"),
        op=op,
        schemas=schemas,
        schema_id=schema_id,
    )


def update_manifest_table(
    spark: SparkSession,
    base_path: str,
    assignments: dict[str, str],
    where: str,
    *,
    prune: str | None = None,
    keep: int = 2,
    txn: tuple[str, int] | None = None,
) -> int:
    """UPDATE ... SET (Delta's UPDATE on the manifest tier): rewrite
    ONLY the files holding at least one row matching ``where``; every
    other live file carries forward as pure metadata. ``assignments``
    maps column name → SQL expression evaluated against the ORIGINAL
    row (standard UPDATE semantics: all assignments see pre-update
    values; the result casts to the column's declared type, so the
    schema never drifts). A row updates only when ``where`` is TRUE
    (NULL rows are untouched, like SQL).

    Cost tracks the matching set, not the table: one candidate scan
    over (optionally ``prune``-skipped) files finds which files hold a
    match, then only those rewrite — the same two-phase shape Delta's
    UPDATE runs. ``prune`` is the manifest-stats skip expression of
    :func:`read_manifest_table` (superset contract: it must keep every
    file that MAY match, e.g. ``max_price >= 100`` for
    ``where="price >= 100"``) and collapses the candidate scan to the
    stats-intersecting files. Candidacy is judged on PHYSICAL rows
    (deletion vectors not consulted — an over-selected file rewrites
    content-identically with its vector applied and comes out
    vector-free, compaction's semantics), so condemned rows can never
    resurrect. Rewritten rows re-validate against the table's persisted
    CHECK constraints — an UPDATE that would break one refuses with
    nothing published. Returns the new version, or the current head
    when nothing matches (no commit — like a no-op merge).

    Isolation is WRITE-SERIALIZABLE, not serializable (Delta's default,
    same trade): the commit passes no key ``bounds`` to ``_finish``, so
    a CONCURRENT append/merge that lands rows matching ``where`` after
    this op's candidate scan rebases cleanly and those rows keep their
    original values — the UPDATE applied to the snapshot it read, not
    to the interleaved writer's rows. Writers needing the stricter
    guarantee should route the update through
    :func:`merge_manifest_table` keyed on the rows to change (its
    keyspace bounds conflict with overlapping concurrent commits), or
    serialize externally via ``txn=``."""
    fs, listing, head, _ = _begin(spark, base_path)
    if head is None:
        raise FileNotFoundError(f"no committed manifest table under {base_path}")
    meta = _meta(spark, base_path, head)
    schemas, schema_id = _registry(meta)
    cur_fields = schemas[schema_id]
    names = [f["name"] for f in cur_fields]
    if not assignments:
        raise ValueError("update_manifest_table: no assignments")
    for c, e in assignments.items():
        if c not in names:
            raise ValueError(f"no such column {c!r} (have {names})")
        F.expr(e)  # fail fast on an unparseable expression
    F.expr(where)
    files = _manifest_files(
        spark, _load_manifest(spark, base_path, head),
        ["path", "bytes", "dv_path", "schema_id"], prune,
    )
    if not files:
        return head
    # phase 1 — candidate files: any physical row matching `where`,
    # read per schema era and lifted to the current schema first so the
    # predicate speaks current names/types
    raw = _scan_eras(spark, base_path, files, schemas, cur_fields, path=True)
    # r15 single-file fusion (same gate as the merge rewrite): a
    # one-small-file candidate scan runs its path-distinct in ONE
    # partition — no exchange, no AQE stage boundary, one job
    if len(files) <= 1 and _fits_one_task(r["bytes"] for r in files):
        raw = raw.coalesce(1)
    hit = {
        r["__path"]
        for r in raw.where(F.coalesce(F.expr(where), F.lit(False)))
        .select("__path")
        .distinct()
        .collect()
    }
    cand = [r for r in files if _trail(r["path"]) in hit]
    if not cand:
        return head
    # phase 2 — rewrite the candidates only (DV applied, era-lifted)
    folded = _read_live(spark, base_path, cand, meta)
    pred = F.coalesce(F.expr(where), F.lit(False))
    types = {f["name"]: f["type"] for f in cur_fields}
    out_cols = [
        F.when(pred, F.expr(assignments[c]).cast(_type_from_json(types[c])))
        .otherwise(F.col(f"`{c}`"))
        .alias(c)
        if c in assignments
        else F.col(f"`{c}`")
        for c in names
    ]
    updated = folded.select(*out_cols)
    rules = _constraint_rules(meta)
    data_dir = f"data/c={_token()}"
    updated, gate = _expect_gate(
        updated, rules, f"update_manifest_table({base_path})",
        written=(base_path, data_dir, _schema_from_fields(cur_fields)),
    )
    _write_data(updated, base_path, data_dir, None, 0)
    gate()
    new_rows = _file_stats(
        spark, base_path, data_dir, meta["stats_cols"],
        _schema_from_fields(cur_fields), meta.get("bloom"),
        schema_id=schema_id, null_stats=bool(meta.get("null_stats")),
    )
    # read set = the rewritten files: _finish rebases over concurrent
    # commits that left them alone and conflicts on ones that didn't
    return _finish(
        spark, base_path,
        schema=StructType.fromJson(meta["schema"]),
        stats_cols=meta["stats_cols"], keep=keep, base_head=head,
        removed=frozenset(r["path"] for r in cand), added=new_rows,
        dv_key=meta.get("dv_key"), bloom=meta.get("bloom"), op="update",
        schemas=schemas, schema_id=schema_id, txn=txn,
        require_constraints=meta.get("constraints") or {},
    )


def clone_manifest_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    *,
    version: int | None = None,
    keep: int = 2,
) -> int:
    """SHALLOW CLONE (Delta's ``CREATE TABLE ... SHALLOW CLONE``): make
    ``dst_path`` a NEW table whose v0 manifest references the source's
    data files and DV sidecars IN PLACE — zero data bytes copied,
    O(live files) driver-side metadata, whatever the table's size. The
    100 TB sandbox verb: experiment, validate a migration, or stage a
    risky rewrite against production data for the cost of one commit.

    Clone semantics, all divergence-safe:

    * the clone's manifest holds the source files ABSOLUTELY
      (``_data_path``), so later writes/merges/deletes/compactions on
      the clone land under the clone and progressively LOCALIZE what
      they rewrite — the source never observes any of it;
    * the source keeps evolving independently — the clone pinned
      ``version`` (default: the head) and never re-reads source meta;
    * schema registry / field ids / stats / Bloom / dv_key / CHECK
      constraints copy (reads and the commit gate behave identically);
      txn watermarks do NOT copy — the clone is a new table identity,
      and inheriting another table's replay protection would swallow
      first batches (Delta clones drop txn identity the same way);
    * the clone's retention/vacuum only sweeps files under ITS root —
      external entries are never deleted by the clone's lifecycle.

    HAZARD (Delta documents the same): VACUUM or retention pruning on
    the SOURCE can delete files the clone still references. Pin the
    cloned version on the source (``tag_manifest_version``) for as long
    as the clone lives, or compact the clone to localize everything.

    Raises if ``dst_path`` already holds a committed table (clone
    creates; it does not overwrite)."""
    fs, listing, src_head, _ = _begin(spark, src_path)
    if src_head is None:
        raise FileNotFoundError(f"no committed manifest table under {src_path}")
    if version is None:
        version = src_head
    else:
        _, _, jvm = _fs_for(spark, src_path)
        marker = _hadoop_path(jvm, f"{src_path}/{_COMMIT_PREFIX}{version}")
        if not fs.exists(marker):
            raise FileNotFoundError(
                f"manifest version {version} under {src_path} is not committed"
            )
    if _begin(spark, dst_path)[2] is not None:
        raise ValueError(
            f"clone destination {dst_path} already holds a committed table"
        )
    meta = _meta(spark, src_path, version)
    schemas, schema_id = _registry(meta)
    src_abs = (
        src_path
        if "://" in src_path or src_path.startswith(("/", "file:"))
        else os.path.abspath(src_path)
    )

    import pyarrow as pa

    man = _load_manifest(spark, src_path, version)
    for name in ("path", "dv_path"):
        # entries that are already external (the source is itself a
        # clone) carry through verbatim; relative ones absolutize
        man = man.set_column(
            man.schema.get_field_index(name),
            pa.field(name, pa.string()),
            pa.array(
                [
                    p
                    if p is None or p.startswith(("/", "file:")) or "://" in p
                    else f"{src_abs}/{p}"
                    for p in man.column(name).to_pylist()
                ],
                type=pa.string(),
            ),
        )
    return _finish(
        spark, dst_path,
        schema=StructType.fromJson(meta["schema"]),
        stats_cols=meta["stats_cols"], keep=keep, base_head=None,
        full_manifest=man, dv_key=meta.get("dv_key"),
        bloom=meta.get("bloom"), op=f"clone({src_path}@v{version})",
        schemas=schemas, schema_id=schema_id,
        constraints=meta.get("constraints") or None,
        null_stats=bool(meta.get("null_stats")),
    )


def manifest_changes(
    spark: SparkSession,
    base_path: str,
    key: str | list[str],
    *,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change data feed between two committed versions, derived from the
    manifests' FILE DIFF instead of the tables: data files are immutable,
    so a file both versions reference holds identical rows (``same`` by
    construction, never read), and every changed key lives in a file only
    one side references. The diff therefore joins
    ``read(removed files) FULL OUTER read(added files)`` — cost tracks
    the data the commits TOUCHED, not the table, where
    ``operators.corrections.snapshot_diff`` of the two full versions
    reads both tables. Same output schema as ``snapshot_diff`` (key, op,
    old_*/new_* columns), same key-unique-table assumption.

    Carried-but-rewritten rows (a merge rewrites a candidate file's
    non-batch rows verbatim into new files) appear on both sides with
    equal values and fall out as ``same`` — filter ``op != 'same'`` for
    the applyable feed, exactly as with ``snapshot_diff``. Deletion
    vectors compose: the diff unit is the (file, vector) PAIR, so a file
    whose vector grew is re-read on both sides (old vector applied on the
    left, new on the right) and its newly condemned rows fall out as
    deletes — cost still tracks the files the commits touched. Both
    versions must be within retention. Across a schema-evolution boundary
    the OLD side is lifted into the new side's schema by field id
    (rename/widen-cast/NULL-fill), so the feed speaks one schema — the
    head's — and ``key`` names columns by their CURRENT names."""
    from tibame_project_spark.operators.corrections import snapshot_diff

    if to_version is None:
        to_version = read_manifest_version(spark, base_path)
        if to_version is None:
            raise FileNotFoundError(f"no committed manifest table under {base_path}")

    def entries(v: int) -> dict[tuple, int]:
        man = _load_manifest(spark, base_path, v)
        return {
            (r["path"], r["dv_path"]): r["schema_id"]
            for r in man.select(["path", "dv_path", "schema_id"]).to_pylist()
        }

    old_files = entries(from_version)
    new_files = entries(to_version)
    removed = sorted(
        old_files.keys() - new_files.keys(), key=lambda t: (t[0], t[1] or "")
    )
    added = sorted(
        new_files.keys() - old_files.keys(), key=lambda t: (t[0], t[1] or "")
    )
    old_meta = _meta(spark, base_path, from_version)
    new_meta = _meta(spark, base_path, to_version)
    old_part = _read_live(
        spark,
        base_path,
        [
            {"path": p, "dv_path": d, "schema_id": old_files[(p, d)]}
            for p, d in removed
        ],
        old_meta,
    )
    new_part = _read_live(
        spark,
        base_path,
        [
            {"path": p, "dv_path": d, "schema_id": new_files[(p, d)]}
            for p, d in added
        ],
        new_meta,
    )
    old_reg, old_id = _registry(old_meta)
    new_reg, new_id = _registry(new_meta)
    if old_reg[old_id] != new_reg[new_id]:
        # evolution between the versions: lift the old side to the new
        # side's schema by field id so the diff compares like with like
        old_part = old_part.select(
            *_projection(old_reg[old_id], new_reg[new_id])
        )
    return snapshot_diff(old_part, new_part, key)


def vacuum_manifest_table(
    spark: SparkSession,
    base_path: str,
    *,
    min_age_s: float | None = None,
    dry_run: bool = False,
) -> int:
    """Delete data files referenced by NO retained (committed, unpruned)
    manifest, then sweep emptied data dirs — and likewise delete
    deletion-vector sidecar dirs no retained manifest's ``dv_path``
    points at. Separate from commit on purpose: commits prune metadata
    with the listing they already hold, while vacuum's recursive data
    listing is the expensive object-store walk you schedule out of band
    (exactly Delta's VACUUM split).

    Concurrency: a concurrent commit's data files exist BEFORE its marker
    does, so a racing vacuum would see them as unreferenced and delete a
    mid-flight commit. Either run vacuum exclusively (no writer live), or
    pass ``min_age_s`` — files younger than the threshold are spared
    (Delta's ``RETAIN`` window), which is safe as long as no commit's
    data-write-to-marker window exceeds the threshold; size it generously
    (hours). Readers are always safe — every retained version's files
    survive. Returns the number of files deleted (DV dirs count as one
    each). ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``) walks the
    same listing and returns the count WITHOUT deleting anything — the
    pre-flight check before pointing retention at a production table,
    and the cheap monitor for garbage accumulation."""
    import time as _time

    fs, base, jvm = _fs_for(spark, base_path)
    listing = list(fs.listStatus(base)) if fs.exists(base) else []
    committed = _committed_versions(listing)
    if not committed:
        return 0
    floor_ms = (
        (_time.time() - min_age_s) * 1000.0 if min_age_s is not None else None
    )

    def old_enough(status) -> bool:
        return floor_ms is None or status.getModificationTime() <= floor_ms

    referenced: set[str] = set()
    dv_referenced: set[str] = set()
    for v in committed:
        man = _load_manifest(spark, base_path, v)
        referenced.update(man.column("path").to_pylist())
        dv_referenced.update(p for p in man.column("dv_path").to_pylist() if p)
    # pending STAGED edits (write-audit-publish) reference data files no
    # manifest points at yet — an audit window must survive housekeeping,
    # so a stage's added files count as live until it publishes or is
    # abandoned (a crashed stage with no stage.json protects nothing)
    staged_root = _hadoop_path(jvm, f"{base_path}/staged")
    if fs.exists(staged_root):
        for st in fs.listStatus(staged_root):
            token = st.getPath().getName()
            add = _hadoop_path(jvm, f"{base_path}/staged/{token}/add")
            stamp = _hadoop_path(jvm, f"{base_path}/staged/{token}/stage.json")
            if fs.exists(stamp) and fs.exists(add):
                staged = _read_arrow(spark, f"{base_path}/staged/{token}/add")
                referenced.update(staged.column("path").to_pylist())
                # a staged DV delete's sidecar
                dv_referenced.update(
                    p for p in staged.column("dv_path").to_pylist() if p
                )
    deleted = 0
    data_root = _hadoop_path(jvm, f"{base_path}/data")
    if fs.exists(data_root):
        for d in fs.listStatus(data_root):
            if not d.isDirectory():
                continue
            dname = d.getPath().getName()
            kept_any = False
            for f in fs.listStatus(d.getPath()):
                fname = f.getPath().getName()
                rel = f"data/{dname}/{fname}"
                if fname.startswith(("_", ".")):  # _SUCCESS, CRCs
                    continue
                if rel in referenced or not old_enough(f):
                    kept_any = True
                else:
                    if not dry_run:
                        fs.delete(f.getPath(), False)
                    deleted += 1
            if not kept_any and not dry_run:
                fs.delete(d.getPath(), True)
    dv_root = _hadoop_path(jvm, f"{base_path}/dv")
    if fs.exists(dv_root):
        for d in fs.listStatus(dv_root):
            if not d.isDirectory():
                continue
            rel = f"dv/{d.getPath().getName()}"
            if rel not in dv_referenced and old_enough(d):
                if not dry_run:
                    fs.delete(d.getPath(), True)
                deleted += 1
    # crashed writers' pre-claim manifest materializations: _finish
    # deletes its own tmp dir on every exit path, so anything still here
    # belongs to a dead process (same min_age_s contract as data dirs —
    # a LIVE writer's tmp is younger than any sane threshold)
    tmp_root = _hadoop_path(jvm, f"{base_path}/manifest_tmp")
    if fs.exists(tmp_root):
        for d in fs.listStatus(tmp_root):
            if old_enough(d):
                if not dry_run:
                    fs.delete(d.getPath(), True)
                deleted += 1
    # crashed _write_text attempts: a death between creating the
    # dot-prefixed '.<name>.tmp-<uuid>' sibling and the rename leaks it
    # beside the meta/stage files permanently — sweep aged ones here
    # (same age contract: a live publish's temp is milliseconds old;
    # dry_run counts them without deleting, keeping its prediction
    # exact). Unlike the data sweep, a temp has no referenced-set
    # protection — only age — so the bare-vacuum floor keeps a 60s
    # margin: even under the exclusive-vacuum contract, a racing
    # committer's in-flight temp must never be yanked between its
    # create and rename (the rename fallback is a non-atomic overwrite).
    sweep_floor = (
        floor_ms if floor_ms is not None else (_time.time() - 60.0) * 1000.0
    )
    deleted += _sweep_tmp_siblings(
        fs, jvm, f"{base_path}/meta", sweep_floor, dry_run=dry_run
    )
    if fs.exists(staged_root):
        for st in fs.listStatus(staged_root):
            if st.isDirectory():
                deleted += _sweep_tmp_siblings(
                    fs, jvm, str(st.getPath()), sweep_floor, dry_run=dry_run
                )
    return deleted

def restore_manifest_table(
    spark: SparkSession, base_path: str, version: int, *, keep: int = 2
) -> int:
    """RESTORE: make a retained older version current again by publishing
    a NEW head whose manifest is a verbatim copy of the old one — the
    rollback verb of the lifecycle (Delta Lake's public RESTORE shape).
    Pure metadata: no data file or DV sidecar is read, rewritten, or
    moved; a 100 TB table rolls back in the time it takes to copy a
    file-count-sized parquet manifest and a KB of meta json.

    History moves FORWARD — the bad commits stay inspectable (and
    ``manifest_changes`` across the restore yields exactly the
    compensating feed downstream consumers need). The restored version's
    files become referenced by the new head, so a later
    :func:`vacuum_manifest_table` keeps them even after the source
    version itself falls out of retention. Restoring the current head is
    allowed and commits a content-identical version (the no-op republish,
    same idempotence class as a replayed merge). Raises if ``version``
    is not a committed, still-retained version."""
    fs, listing, head, new_version = _begin(spark, base_path)
    if head is None:
        raise FileNotFoundError(f"no committed manifest table under {base_path}")
    if version not in _committed_versions(listing):
        raise FileNotFoundError(
            f"manifest version {version} under {base_path} is not committed "
            "or has been pruned past retention — cannot restore"
        )
    man = _load_manifest(spark, base_path, version)
    meta = _meta(spark, base_path, version)
    schemas, schema_id = _registry(meta)
    # restore replaces the WHOLE live set — exclusive, never rebased
    return _finish(
        spark,
        base_path,
        schema=StructType.fromJson(meta["schema"]),
        stats_cols=meta["stats_cols"],
        keep=keep,
        base_head=head,
        full_manifest=man,
        dv_key=meta.get("dv_key"),
        bloom=meta.get("bloom"),
        op=f"restore(v={version})",
        schemas=schemas,
        schema_id=schema_id,
    )


def expire_txns(
    spark: SparkSession,
    base_path: str,
    *,
    older_than_ms: int,
    keep: int = 2,
) -> tuple[int, list[str]]:
    """Drop idempotent-transaction watermarks whose last activity is more
    than ``older_than_ms`` behind the head commit's timestamp — Delta's
    ``setTransactionRetentionDuration``, as an explicit out-of-band
    maintenance verb (like vacuum). A table written by many short-lived
    streams otherwise accrues one KB-scale meta entry per ``app_id``
    forever; live writers' watermarks are untouched because every commit
    they make refreshes their stamp.

    EXPIRY REVOKES REPLAY PROTECTION for the dropped apps: a batch from
    an expired ``app_id`` redelivered after this commit re-applies as if
    new. Expire only decommissioned streams, with a horizon comfortably
    past any possible redelivery (days, not minutes). Publishes a
    metadata-only commit (``op='expire_txns'``; zero data files touched;
    no-op when nothing is stale — returns the current head). Returns
    ``(version, expired_app_ids)``."""
    fs, listing, head, _ = _begin(spark, base_path)
    if head is None:
        raise FileNotFoundError(f"no committed manifest table under {base_path}")
    meta = _meta(spark, base_path, head)
    cutoff = int(meta.get("ts", 0)) - int(older_than_ms)
    stale = sorted(
        app
        for app in meta.get("txns", {})
        if int(meta.get("txn_ts", {}).get(app, 0)) < cutoff
    )
    if not stale:
        return head, []
    schemas, schema_id = _registry(meta)
    version = _finish(
        spark,
        base_path,
        schema=StructType.fromJson(meta["schema"]),
        stats_cols=meta["stats_cols"],
        keep=keep,
        base_head=head,
        full_manifest=_load_manifest(spark, base_path, head),
        dv_key=meta.get("dv_key"),
        bloom=meta.get("bloom"),
        op="expire_txns",
        schemas=schemas,
        schema_id=schema_id,
        drop_txns=frozenset(stale),
    )
    return version, stale


def manifest_constraints(spark: SparkSession, base_path: str) -> dict[str, str]:
    """The table's persisted CHECK constraints (name → boolean SQL
    expression every non-tombstone written row must satisfy)."""
    fs, listing, head, _ = _begin(spark, base_path)
    if head is None:
        raise FileNotFoundError(f"no committed manifest table under {base_path}")
    return dict(_meta(spark, base_path, head).get("constraints") or {})


def add_manifest_constraint(
    spark: SparkSession,
    base_path: str,
    name: str,
    expr: str,
    *,
    keep: int = 2,
    validate: bool = True,
) -> int:
    """ALTER TABLE ADD CONSTRAINT (Delta's CHECK constraints on the
    manifest tier): persist ``expr`` in table meta so EVERY writer's
    commit gate enforces it — append, merge (tombstones exempt), full
    refresh, and the streaming sinks that ride them — not just callers
    who remember ``expect=``. SQL CHECK semantics: a row violates only
    when the expression is FALSE (NULL passes; compose a not-null
    constraint to forbid it).

    ``validate=True`` (default, and Delta's behavior) first proves the
    EXISTING table satisfies the constraint with one scan — adding a
    constraint the history already violates would make every future
    rewrite of an old row fail surprisingly. Publishes a metadata-only
    commit (``op='add_constraint(<name>)'``); zero data files touched."""
    fs, listing, head, _ = _begin(spark, base_path)
    if head is None:
        raise FileNotFoundError(f"no committed manifest table under {base_path}")
    meta = _meta(spark, base_path, head)
    cons = dict(meta.get("constraints") or {})
    if name in cons:
        raise ValueError(
            f"constraint {name!r} already exists under {base_path} "
            f"({cons[name]!r}); drop it first to replace"
        )
    F.expr(expr)  # fail fast on an unparseable expression
    cons[name] = expr
    if validate:
        live = read_manifest_table(spark, base_path, version=head)
        n_bad = live.where(
            ~F.coalesce(F.expr(expr), F.lit(True))
        ).limit(1).count()
        if n_bad:
            raise ValueError(
                f"existing rows violate CHECK {name!r} ({expr!r}) under "
                f"{base_path} — clean the data first or fix the expression"
            )
    schemas, schema_id = _registry(meta)
    return _finish(
        spark, base_path,
        schema=StructType.fromJson(meta["schema"]),
        stats_cols=meta["stats_cols"], keep=keep, base_head=head,
        full_manifest=_load_manifest(spark, base_path, head),
        dv_key=meta.get("dv_key"), bloom=meta.get("bloom"),
        op=f"add_constraint({name})", schemas=schemas, schema_id=schema_id,
        constraints=cons,
    )


def drop_manifest_constraint(
    spark: SparkSession, base_path: str, name: str, *, keep: int = 2
) -> int:
    """ALTER TABLE DROP CONSTRAINT: metadata-only commit removing a
    persisted CHECK; raises on an unknown name (a typo'd drop that
    silently 'succeeds' leaves the caller believing enforcement
    stopped)."""
    fs, listing, head, _ = _begin(spark, base_path)
    if head is None:
        raise FileNotFoundError(f"no committed manifest table under {base_path}")
    meta = _meta(spark, base_path, head)
    cons = dict(meta.get("constraints") or {})
    if name not in cons:
        raise ValueError(f"no constraint {name!r} under {base_path}")
    del cons[name]
    schemas, schema_id = _registry(meta)
    return _finish(
        spark, base_path,
        schema=StructType.fromJson(meta["schema"]),
        stats_cols=meta["stats_cols"], keep=keep, base_head=head,
        full_manifest=_load_manifest(spark, base_path, head),
        dv_key=meta.get("dv_key"), bloom=meta.get("bloom"),
        op=f"drop_constraint({name})", schemas=schemas, schema_id=schema_id,
        constraints=cons,
    )


#: Lossless type promotions (parquet physical types stay readable
#: through a cast): Spark jsonValue names.
_WIDEN_OK = {
    "byte": {"short", "integer", "long"},
    "short": {"integer", "long"},
    "integer": {"long"},
    "float": {"double"},
}


def evolve_manifest_table(
    spark: SparkSession,
    base_path: str,
    *,
    rename: dict[str, str] | None = None,
    widen: dict[str, str] | None = None,
    drop: list[str] | None = None,
    keep: int = 2,
) -> int:
    """Schema evolution beyond add-column, as a METADATA-ONLY commit: no
    data file is read or rewritten. ``rename`` maps current column names
    to new ones; ``widen`` maps current column names to a wider type
    (int→long-class promotions and float→double — the drift cases a
    year-long table WILL hit); ``drop`` removes columns from the CURRENT
    schema (Delta's column-mapping DROP COLUMN). Old files keep their
    write-era physical schema; every read lifts them through a field-id
    projection (rename + cast + NULL-fill, dropped fields projected
    away), the public formats' column-mapping design.

    DROP is safe against the classic resurrection hazard: field ids are
    fresh across the whole registry, so a column RE-ADDED later under
    the same name gets a NEW id and old files' retired values read as
    NULL, never as the new column. The dropped bytes stay in the old
    files until compaction/recluster rewrites them to the head schema
    (the same lazy materialization Delta documents). Refused for the
    deletion-vector key (sidecars join on it) and for columns a
    persisted CHECK constraint references (drop the constraint first).

    Renaming/widening/dropping cascades through the table's metadata:
    declared stats columns, the Bloom-filter column list, the
    deletion-vector key, and the manifest's ``min_``/``max_`` columns
    all follow. Widening a BLOOM column stays exact because
    :func:`bloom_prune_expr` probes per schema era (xxhash64 of int vs
    long differ, so each file is probed with values hashed as the type
    it was written under). Returns the committed version. Exclusive: a
    concurrent commit of any kind conflicts (schema changes cannot be
    rebased)."""
    rename = dict(rename or {})
    widen = dict(widen or {})
    drop = list(drop or [])
    if not rename and not widen and not drop:
        raise ValueError("evolve_manifest_table: nothing to do")
    fs, listing, head, _version = _begin(spark, base_path)
    if head is None:
        raise FileNotFoundError(f"no committed manifest table under {base_path}")
    meta = _meta(spark, base_path, head)
    schemas, cur_id = _registry(meta)
    cur_fields = schemas[cur_id]
    names = [f["name"] for f in cur_fields]
    for old in list(rename) + list(widen) + drop:
        if old not in names:
            raise ValueError(f"no such column {old!r} (have {names})")
    both = set(drop) & (set(rename) | set(widen))
    if both:
        raise ValueError(
            f"columns {sorted(both)} cannot be dropped and renamed/"
            "widened in the same evolution"
        )
    if set(drop) >= set(names):
        raise ValueError("cannot drop every column of the table")
    if meta.get("dv_key") in drop:
        raise ValueError(
            f"column {meta['dv_key']!r} is the deletion-vector key — "
            "existing DV sidecars join on it; compact the table to "
            "materialize the vectors before dropping it"
        )
    target_names = [rename.get(n, n) for n in names if n not in drop]
    if len(set(target_names)) != len(target_names):
        raise ValueError(
            f"rename produces duplicate column names: {target_names}"
        )
    # persisted CHECK expressions reference columns by NAME; renaming one
    # out from under a constraint would make every later commit gate fail
    # with a resolution error far from the cause. Conservative word-
    # boundary match (a false positive costs a drop/re-add, a false
    # negative costs silent breakage) — Delta blocks this the same way.
    import re as _re

    for old in list(rename) + drop:
        for cname, cexpr in (meta.get("constraints") or {}).items():
            # IGNORECASE: Spark SQL resolves columns case-insensitively
            # by default, so a constraint written 'ID > 0' references
            # column 'id' — a case-sensitive guard would let that rename
            # through and every later commit gate fail far from the cause
            if _re.search(rf"\b{_re.escape(old)}\b", cexpr, flags=_re.IGNORECASE):
                raise ValueError(
                    f"column {old!r} is referenced by CHECK constraint "
                    f"{cname!r} ({cexpr!r}) — drop the constraint, rename/"
                    "drop the column, then re-add it as needed"
                )
    bloom = meta.get("bloom")
    new_fields = []
    for f in cur_fields:
        if f["name"] in drop:
            continue  # the field id retires with the column, never reused
        t = f["type"]
        if f["name"] in widen:
            from pyspark.sql.types import _parse_datatype_string

            tgt = widen[f["name"]]
            tgt_json = _parse_datatype_string(tgt).jsonValue()
            if not (
                isinstance(t, str)
                and tgt_json in _WIDEN_OK.get(t, set())
            ):
                raise ValueError(
                    f"cannot widen {f['name']!r} from {t!r} to {tgt!r} — "
                    f"allowed: {sorted(_WIDEN_OK.get(t, set())) if isinstance(t, str) else []}"
                )
            t = tgt_json
        new_fields.append(
            {"id": f["id"], "name": rename.get(f["name"], f["name"]), "type": t}
        )
    new_id = max(schemas) + 1
    schemas[new_id] = new_fields
    new_stats = [
        rename.get(c, c) for c in meta["stats_cols"] if c not in drop
    ]
    dv_key = meta.get("dv_key")
    new_dv_key = rename.get(dv_key, dv_key) if dv_key else None
    new_bloom = (
        dict(
            bloom,
            cols=[rename.get(c, c) for c in bloom["cols"] if c not in drop],
        )
        if bloom
        else None
    )
    if new_bloom is not None and not new_bloom["cols"]:
        new_bloom = None  # every Bloom column dropped: retire the filter
    # manifest transform, still metadata-only: stats columns follow the
    # rename/widen (dropped columns' stats vanish with them) so prune
    # expressions speak the new names/types. ONE projection — sequential
    # withColumnRenamed would corrupt swap/chain renames
    # (rename={'a':'b','b':'c'} transiently duplicates min_b)
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    man = _load_manifest(spark, base_path, head)
    new_types = {f2["name"]: f2["type"] for f2 in new_fields}
    out_cols, out_names = [], []
    for c in man.schema.names:
        col, name = man.column(c), c
        for prefix in ("min_", "max_", "bloom_", "nulls_"):
            if c.startswith(prefix):
                src = c[len(prefix):]
                if src in drop:
                    col = None  # stats column of a dropped field: omit
                    break
                nc = rename.get(src, src)
                name = f"{prefix}{nc}"
                # null/bloom stats are type-independent; only the value
                # bounds follow a widening cast
                if prefix in ("min_", "max_") and src in widen:
                    col = col.cast(to_arrow_type(_type_from_json(new_types[nc])))
                break
        if col is not None:
            out_cols.append(col)
            out_names.append(name)
    man = pa.Table.from_arrays(out_cols, names=out_names)
    return _finish(
        spark,
        base_path,
        schema=_schema_from_fields(new_fields),
        stats_cols=new_stats,
        keep=keep,
        base_head=head,
        full_manifest=man,
        dv_key=new_dv_key,
        bloom=new_bloom,
        op="evolve",
        schemas=schemas,
        schema_id=new_id,
    )


def _manifest_tags(spark: SparkSession, base_path: str) -> dict[str, int]:
    """All tags of a table: ``{name: version}`` from ``tags/<name>.json``."""
    fs, _, jvm = _fs_for(spark, base_path)
    root = _hadoop_path(jvm, f"{base_path}/tags")
    if not fs.exists(root):
        return {}
    out: dict[str, int] = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.endswith(".json"):
            continue
        out[name[: -len(".json")]] = json.loads(
            _read_text(spark, f"{base_path}/tags/{name}")
        )["version"]
    return out


def tag_manifest_version(
    spark: SparkSession, base_path: str, name: str, version: int | None = None
) -> int:
    """Pin a committed version under an immutable NAME (Iceberg's tag
    refs, the release-pinning verb): a tagged version's commit marker,
    manifest, and meta are SPARED by every later commit's retention
    pruning, and — because vacuum keeps any committed manifest's files —
    its data files and DV sidecars survive vacuum too. The use this
    engine exists for: a training-data release (`release_pipeline`)
    pinned as `tags/v1.json` stays byte-identically readable forever,
    however many curation passes rewrite the live table on top.

    ``version`` defaults to the current head. Tags are immutable —
    retagging a name raises (delete then recreate to move it, accepting
    that the old pin's retention protection ends). Atomic create-new, so
    two writers cannot silently claim one name. The pin SERIALIZES
    through the commit claim protocol, and the argument is airtight
    because commits prune BEFORE publishing their marker (see
    :func:`_finish` step 4): a tagger that observed head ``h`` has, by
    that observation, seen commit ``h``'s prune already finished; every
    LATER prune belongs to a commit of version ``h+1`` — which needs the
    very ``_CLAIM_v<h+1>`` the tagger holds while it verifies the pin's
    marker and writes the tag. No interleaving exists where a tag lands
    on metadata a racing commit then deletes (the r09-flagged race).
    Returns the pinned version."""
    fs, base, jvm = _fs_for(spark, base_path)
    if "/" in name or name.startswith("_") or not name:
        raise ValueError(f"invalid tag name {name!r}")
    for _attempt in range(_MAX_REBASES):
        head = read_manifest_version(spark, base_path)
        if head is None:
            raise FileNotFoundError(f"no committed manifest table under {base_path}")
        pin = head if version is None else version
        claim = _hadoop_path(jvm, f"{base_path}/{_CLAIM_PREFIX}{head + 1}")
        try:
            _COMMIT_FS.create_new(fs, claim)
        except Exception:
            _await_claim(fs, jvm, base_path, head + 1)
            continue
        # same post-claim guard as _finish: if commits landed between the
        # head read and the claim and retention pruned _CLAIM_v<head+1>,
        # this claim is on an already-committed version and does NOT
        # serialize against the live head's pruning — release and retry.
        relist = list(fs.listStatus(base)) if fs.exists(base) else []
        recommitted = _committed_versions(relist)
        if (max(recommitted) if recommitted else -1) != head:
            _COMMIT_FS.delete(fs, claim)
            continue
        try:
            marker = _hadoop_path(jvm, f"{base_path}/{_COMMIT_PREFIX}{pin}")
            if not fs.exists(marker):
                raise FileNotFoundError(
                    f"manifest version {pin} under {base_path} is not "
                    "committed or has been pruned past retention — cannot tag"
                )
            tag_path = _hadoop_path(jvm, f"{base_path}/tags/{name}.json")
            fs.mkdirs(tag_path.getParent())
            try:
                _COMMIT_FS.create_new(  # create-new = the pin
                    fs, tag_path, json.dumps({"version": pin}).encode("utf-8")
                )
            except Exception as e:
                raise ValueError(
                    f"tag {name!r} already exists under {base_path} (tags "
                    "are immutable; delete_manifest_tag then recreate to "
                    "move it)"
                ) from e
            return pin
        finally:
            _COMMIT_FS.delete(fs, claim)  # claim released; no marker = no commit
    raise ConcurrentCommitError(
        f"gave up tagging {name!r} after {_MAX_REBASES} attempts under "
        f"{base_path} — sustained commit traffic kept moving the head; "
        "retry when the writer burst subsides"
    )


def delete_manifest_tag(spark: SparkSession, base_path: str, name: str) -> None:
    """Drop a tag. The pinned version loses its retention protection at
    the NEXT commit's pruning pass (and its files at the next vacuum
    after that) — nothing is deleted here."""
    fs, _, jvm = _fs_for(spark, base_path)
    p = _hadoop_path(jvm, f"{base_path}/tags/{name}.json")
    if not _COMMIT_FS.delete(fs, p):
        raise FileNotFoundError(f"no tag {name!r} under {base_path}")


def list_manifest_tags(spark: SparkSession, base_path: str) -> dict[str, int]:
    """``{tag: version}`` for every tag on the table."""
    return dict(sorted(_manifest_tags(spark, base_path).items()))


def _diff_schema(schema: StructType, keys: list[str]) -> StructType:
    """The ``snapshot_diff`` output schema for a table schema + key set:
    key columns, ``op``, then ``old_<c>``/``new_<c>`` per non-key column."""
    from pyspark.sql.types import StringType, StructField

    by_name = {f.name: f for f in schema.fields}
    cols = [f.name for f in schema.fields if f.name not in keys]
    fields = [StructField(k, by_name[k].dataType) for k in keys]
    fields.append(StructField("op", StringType()))
    fields += [StructField(f"old_{c}", by_name[c].dataType) for c in cols]
    fields += [StructField(f"new_{c}", by_name[c].dataType) for c in cols]
    return StructType(fields)


def manifest_feed(
    spark: SparkSession,
    base_path: str,
    key: str | list[str],
    *,
    state_path: str,
    to_version: int | None = None,
    from_version: int | None = None,
) -> tuple[DataFrame, int]:
    """Tail a manifest table incrementally: the CONSUMER twin of
    ``streaming.incremental.stream_cdc_apply_manifest``. Returns
    ``(changes, head)`` where ``changes`` is the applyable
    ``snapshot_diff``-schema feed (``op`` in insert/update/delete — the
    ``same`` rows are already filtered) between the cursor persisted at
    ``state_path`` and the table head, priced by the files the commits
    touched, never the table (see :func:`manifest_changes`).

    Cursor protocol (at-least-once): process ``changes``, THEN call
    :func:`manifest_feed_commit` with the returned ``head``. A crash in
    between replays the same interval on the next call — safe end-to-end
    when the downstream apply is a fixpoint (the merge/CDC sinks here
    are). The first call on a fresh ``state_path`` bootstraps: the full
    current table as ``insert`` rows (Delta streaming's
    initial-snapshot semantics), so consumer logic is one code path.

    A caught-up consumer (cursor == head) gets an empty feed with the
    correct schema and no file I/O. A cursor older than retention
    (its manifest pruned) raises — raise ``keep`` to cover the consumer's
    worst lag, or delete the state file to re-bootstrap.

    ``from_version`` OVERRIDES the persisted cursor: a consumer that
    stamps its durable output with the head it applied (the
    exactly-once-effect discipline of ``plans.warehouse.
    maintain_mart_from_feed``) passes the stamp here on restart, so an
    interval whose apply survived a crash-before-cursor-commit is never
    replayed into a non-fixpoint sink. The stamp must come from state
    persisted atomically WITH the applied output."""
    keys = [key] if isinstance(key, str) else list(key)
    head = to_version
    if head is None:
        head = read_manifest_version(spark, base_path)
        if head is None:
            raise FileNotFoundError(f"no committed manifest table under {base_path}")
    fs, sp, _ = _fs_for(spark, state_path)
    if from_version is not None:
        cursor = from_version
        if cursor > head:
            raise ValueError(
                f"from_version {cursor} is ahead of table head {head} under "
                f"{base_path}"
            )
        if cursor == head:
            meta = _meta(spark, base_path, head)
            empty = _diff_schema(StructType.fromJson(meta["schema"]), keys)
            return local_rows_df(spark, [], empty), head
        mfs, mp, _ = _fs_for(spark, f"{base_path}/manifest/v={cursor}")
        if not mfs.exists(mp):
            raise FileNotFoundError(
                f"from_version {cursor} has been pruned past retention under "
                f"{base_path} — raise keep= on the writer or re-bootstrap"
            )
        changes = manifest_changes(
            spark, base_path, key, from_version=cursor, to_version=head
        ).filter(F.col("op") != "same")
        return changes, head
    if not fs.exists(sp):
        meta = _meta(spark, base_path, head)
        schema = StructType.fromJson(meta["schema"])
        cols = [c.name for c in schema.fields if c.name not in keys]
        full = read_manifest_table(spark, base_path, version=head)
        boot = full.select(
            *keys,
            F.lit("insert").alias("op"),
            *[F.lit(None).cast(dict(full.dtypes)[c]).alias(f"old_{c}") for c in cols],
            *[F.col(c).alias(f"new_{c}") for c in cols],
        )
        return boot, head
    cursor = _read_json_poll(spark, state_path, "feed cursor")["version"]
    if cursor > head:
        raise ValueError(
            f"feed cursor {cursor} is ahead of table head {head} under "
            f"{base_path} — state file does not belong to this table"
        )
    if cursor == head:
        meta = _meta(spark, base_path, head)
        empty = _diff_schema(StructType.fromJson(meta["schema"]), keys)
        return local_rows_df(spark, [], empty), head
    mfs, mp, _ = _fs_for(spark, f"{base_path}/manifest/v={cursor}")
    if not mfs.exists(mp):
        raise FileNotFoundError(
            f"feed cursor {cursor} has been pruned past retention under "
            f"{base_path} — raise keep= on the writer or re-bootstrap"
        )
    changes = manifest_changes(
        spark, base_path, key, from_version=cursor, to_version=head
    ).filter(F.col("op") != "same")
    return changes, head


def manifest_feed_commit(spark: SparkSession, state_path: str, version: int) -> None:
    """Advance a :func:`manifest_feed` cursor — call AFTER the interval's
    changes are durably applied downstream (the at-least-once barrier).

    The cursor lives OUTSIDE the table, so table vacuum never visits its
    directory — each successful advance therefore opportunistically
    sweeps aged ``.*.tmp-*`` siblings a crashed predecessor left beside
    the cursor (an hour is generations older than any live publish's
    create-to-rename window)."""
    _write_text(spark, state_path, json.dumps({"version": version}))
    import time as _time

    try:
        fs, p, jvm = _fs_for(spark, state_path)
        _sweep_tmp_siblings(
            fs, jvm, str(p.getParent()), (_time.time() - 3600.0) * 1000.0
        )
    except Exception:
        pass  # housekeeping must never fail a successful cursor advance

def manifest_history(spark: SparkSession, base_path: str) -> DataFrame:
    """Commit history of the retained versions — the observability twin of
    Delta's DESCRIBE HISTORY, folded entirely from metadata: one row per
    retained version with the operation that produced it (``create`` /
    ``append`` / ``merge`` / ``delete`` / ``compact`` / ``restore(v=n)``;
    NULL for pre-op-tagging commits) and the version's live file / row /
    byte / DV'd-file totals out of its manifest. Cost is O(retained
    versions × files-per-manifest) driver-side metadata — no data file is
    ever opened, so the audit view of a 100 TB table is a KB-scale read."""
    fs, base, _ = _fs_for(spark, base_path)
    listing = list(fs.listStatus(base)) if fs.exists(base) else []
    committed = sorted(_committed_versions(listing))
    if not committed:
        raise FileNotFoundError(f"no committed manifest table under {base_path}")
    import pyarrow.compute as pc

    rows = []
    for v in committed:
        meta = _meta(spark, base_path, v)
        man = _load_manifest(spark, base_path, v)
        rows.append(
            (
                v,
                meta.get("op"),
                meta.get("ts"),
                man.num_rows,
                pc.sum(man.column("rows")).as_py() or 0,
                pc.sum(man.column("bytes")).as_py() or 0,
                man.num_rows - man.column("dv_path").null_count,
            )
        )
    return local_rows_df(
        spark, rows,
        "version int, op string, ts long, files long, rows long, "
        "bytes long, dv_files long",
    )
