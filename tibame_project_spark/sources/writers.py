"""Writers (S4-S6, S8-S11, S15, M4).

Maps the reference's write modes onto Spark save modes:

* WRITE_TRUNCATE full replace (``gcp.py:268-270``)      → mode("overwrite")
* skip-if-exists idempotent create (``gcp.py:41-43``,
  ``gcp.py:162-165``)                                   → mode("ignore")
* day-partitioned tables (``gcp.py:183-189, 283-289``)  → partitionBy +
  dynamic partition overwrite (only arriving partitions are replaced —
  the incremental daily reload)
* row-by-row MySQL INSERT (``MySQL/weatherINFO.ipynb``) → df.write.jdbc
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType, VariantType


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: str | list[str] | None = None,
) -> None:
    """S4/S8/M4. With the session's partitionOverwriteMode=dynamic, an
    overwrite into a partitioned table replaces only the partitions present
    in ``df`` — the reference's idempotent ``{date}/`` reload semantics."""
    w = df.write.mode(mode)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else partition_by
        w = w.partitionBy(*cols)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, *, mode: str = "overwrite", header: bool = True) -> None:
    """S5."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_jsonl(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """S6 — Spark's json sink is records+lines, the reference's
    ``to_json(orient="records", lines=True)`` (``gcp.py:51-54``)."""
    df.write.mode(mode).json(path)


def save_table(
    df: DataFrame,
    qualified_name: str,
    *,
    mode: str = "overwrite",
    partition_by: str | list[str] | None = None,
) -> None:
    """S9 CTAS / S8 managed load: ``CREATE OR REPLACE TABLE … AS SELECT``
    becomes saveAsTable(overwrite); ``mode="ignore"`` is the S10 guard."""
    w = df.write.mode(mode)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else partition_by
        w = w.partitionBy(*cols)
    w.saveAsTable(qualified_name)


def write_bucketed_table(
    df: DataFrame,
    qualified_name: str,
    *,
    bucket_by: str | list[str],
    num_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Hive-bucketed managed table: rows are hash-clustered into
    ``num_buckets`` files per partition on ``bucket_by`` (and sorted
    within each bucket when ``sort=True``).

    This is the storage-level half of the co-located-join story: two
    tables bucketed on the same key into the same bucket count join (or
    aggregate) with NO exchange on either side — the scan's output
    partitioning already satisfies the join's distribution requirement,
    so the shuffle that dominates a fact⋈fact join at 100 TB simply
    disappears from the plan (asserted in
    ``tests/test_physical_plans.py::test_bucketed_tables_join_without_shuffle``).
    The price is paid ONCE at write time (the clustering shuffle) and
    amortized over every downstream join/agg on that key — the batch
    analogue of the streaming tier's state-store keying, and the table
    form of ``partitioning.ensure_parallelism``'s advice that the layout
    you write is the shuffle you don't re-run.

    Bucketed tables must be managed (``saveAsTable``) — path-based
    ``parquet(path)`` writes cannot carry bucket metadata.
    """
    cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    w = df.write.mode(mode).bucketBy(num_buckets, *cols)
    if sort:
        w = w.sortBy(*cols)
    w.saveAsTable(qualified_name)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    properties: dict[str, str] | None = None,
) -> None:
    """S15 — the serving-layer load. The reference inserts row-by-row from
    pandas (``MySQL/weatherINFO.ipynb`` cell 3); ``df.write.jdbc`` batches
    per partition instead. Needs a JDBC driver on the classpath — for MySQL
    that's the connector jar; tests use the embedded Derby driver Spark
    already ships."""
    df.write.jdbc(url, table, mode=mode, properties=properties or {})


def write_orc(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: str | list[str] | None = None,
) -> None:
    """ORC sink — parity with write_parquet for Hive/Trino-consuming lakes."""
    w = df.write.mode(mode)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else partition_by
        w = w.partitionBy(*cols)
    w.orc(path)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    *,
    layout_cols: str | list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Layout-optimized parquet write: cluster on ``layout_cols``
    (lexicographic) and sort within each file — the data-skipping layout
    (linear clustering; the 1-D case of what Z-ordering generalizes).

    Why it matters at 100 TB: parquet stores per-row-group min/max
    statistics, and both Spark's parquet reader and any stats-aware engine
    skip row groups whose [min, max] cannot satisfy a pushed-down
    predicate. After this write the clustered column's ranges are DISJOINT
    across files and row groups, so a selective filter reads a handful of
    row groups instead of the whole table — the difference between a
    point-lookup costing one row group and costing a full scan. (The
    unsorted layout has every row group spanning nearly the full value
    range, making min/max stats useless — the test proves the contrast.)

    One sample job picks file boundaries from the rows (even sizes under
    skew), one id exchange routes the rows and a per-partition sort orders
    them: the layout is a function of the rows (:func:`_clustered_write`;
    ``n_files`` defaults to the session's shuffle partitions).
    """
    _clustered_write(df, path, layout_cols, n_files, mode=mode)


def zorder_key(cols, *, bits: int = 16):
    """Z-order (Morton) key over 2+ integer columns already scaled into
    [0, 2^bits): bit i of each column lands at interleaved position
    i * n_cols + column_index, so points close in EVERY dimension are close
    on the key. Built as a static expression tree (2 * bits * n_cols
    shift/mask terms) — map-side, codegen-friendly, zero shuffle.

    Callers normalize values into the bit range first (rank, epoch-day,
    truncated hash, ...); keeping normalization out of this function keeps
    the key exact and engine-independent.
    """
    n = len(cols)
    if bits * n > 63:
        raise ValueError(
            f"bits * n_cols = {bits * n} exceeds 63: the top interleaved bit "
            "would land on the long's sign bit and invert the Morton order "
            "for large values — lower bits (e.g. 63 // n_cols) or drop a column"
        )
    terms = []
    for ci, c in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        for b in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(col.cast("long"), b).bitwiseAND(F.lit(1)),
                    b * n + ci,
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    *,
    layout_cols: list[str],
    bits: int = 16,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Multi-dimensional layout-optimized write: cluster on the Z-order
    interleaving of ``layout_cols`` instead of a single column — the 2-D+
    generalization of ``write_sorted_parquet``. A linear sort on column A
    makes column B's row-group [min, max] span the whole value range (a
    selective B predicate skips nothing); the Morton curve keeps each row
    group a small hyper-rectangle in BOTH dimensions, so box predicates
    (time range × key range, lat × lon, ...) prune row groups on every
    clustered column at once. Same write shape as the 1-D case on the
    Morton key, a layout that is a function of the rows; stats do the
    rest at read time.
    """
    _clustered_write(df, path, layout_cols, n_files, zorder_bits=bits, mode=mode)


#: Boundary-sample rows per output file of a clustered write.
_SAMPLE_ROWS_PER_FILE = 20


def _hashable(dt) -> bool:
    """False for a map or variant, at any depth: Spark cannot hash them."""
    if isinstance(dt, ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return not isinstance(dt, (MapType, VariantType))


def _clustered_write(
    df: DataFrame,
    path: str,
    cols: str | list[str] | None,
    n_files: int | None = None,
    *,
    zorder_bits: int | None = None,
    mode: str = "overwrite",
) -> None:
    """THE clustering writer: up to ``n_files`` (default: the session's
    shuffle partitions) parquet files with disjoint ranges on ``cols``,
    each sorted on them — lexicographically, or on their Morton key when
    ``zorder_bits`` is given. ``n_files <= 1``: one sorted file; no
    ``cols``: round-robin into ``n_files`` (0: as the frame comes).

    The layout is a function of the rows (Spark's range partitioner seeds
    its sample from the RDD id). ONE sample job keeps the bottom
    ``_SAMPLE_ROWS_PER_FILE * n`` rows by (xxhash64 of the row, so a heavy
    key weighs by its rows; key); the driver cuts n-1 quantiles ``b_i``
    of their keys; ``repartitionById`` sends a row to file ``Σ (key >
    b_i)`` (struct compare, NULL first: file 0), monotone in the key
    however the driver sorted (NaN, collations): ranges stay disjoint."""
    cols = [cols] if isinstance(cols, str) else list(cols or [])
    if n_files is None:
        n_files = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if not cols:
        (df.repartition(n_files) if n_files else df).write.mode(mode).parquet(path)
        return
    key = cols if zorder_bits is None else ["__zk"]
    if zorder_bits is not None:
        df = df.withColumn("__zk", zorder_key(cols, bits=zorder_bits))
    if n_files <= 1:
        df = df.coalesce(1)
    else:
        kcols = [F.col(c) for c in key]
        h = F.xxhash64(*[F.col("`" + f.name.replace("`", "``") + "`")
                         for f in df.schema.fields if _hashable(f.dataType)])
        sample = df.orderBy(h, *kcols).select(*kcols).limit(
            _SAMPLE_ROWS_PER_FILE * n_files).collect()
        sample.sort(key=lambda r: tuple((v is not None, v) for v in r))
        m, fields = len(sample), df.select(*kcols).schema.fields
        fid = F.lit(0)
        for i in range(1, n_files if m else 1):
            bound = F.struct(*[F.lit(v).cast(f.dataType).alias(f.name)
                               for v, f in zip(sample[i * m // n_files], fields)])
            fid = fid + (F.struct(*kcols) > bound).cast("int")
        df = df.repartitionById(n_files, fid)
    df = df.sortWithinPartitions(*key)
    (df if zorder_bits is None else df.drop("__zk")).write.mode(mode).parquet(path)


def _jvm_class(jvm, name: str):
    """The JVM class ``name``, fully qualified (``Outer$Inner`` for a
    nested class), resolved with ONE py4j reflection command. The
    attribute chain ``jvm.org.apache.hadoop.fs.Path`` sends one command
    per step, and each package step (``org``, ``org.apache``, ...) is a
    failed class lookup that scans every jar on the classpath: a
    ``Path`` built through the chain took 1.2-1.3 ms against 0.13-0.16 ms
    through the fully qualified name (``get_spark`` session, 4-core
    host). Deliberately not cached: a ``JavaClass`` is bound to the
    gateway that resolved it, and a restarted session brings a new one."""
    return getattr(jvm, name)


def _hadoop_path(jvm, *args):
    """``new org.apache.hadoop.fs.Path(*args)`` through :func:`_jvm_class`."""
    return _jvm_class(jvm, "org.apache.hadoop.fs.Path")(*args)


#: Commit-marker filename prefix for snapshot-versioned tables; version n
#: commits as f"{_COMMIT_PREFIX}{n}". ONE definition shared by the writer,
#: the prune, and the reader so parsing can never desynchronize.
_COMMIT_PREFIX = "_COMMIT_v"


def _version_suffix(name: str, prefix: str) -> int | None:
    """``int(suffix)`` of a versioned entry name, or None when the name
    doesn't carry an all-digits suffix (``_COMMIT_v1.bak``, ``v=tmp``…).
    Foreign files in a snapshot base dir are thereby IGNORED instead of
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


def write_snapshot(
    spark,
    df: DataFrame,
    base_path: str,
    *,
    keep: int = 2,
    base_version: int | None = None,
) -> int:
    """Versioned atomic overwrite on a plain filesystem — the minimal
    snapshot-isolation pattern that table formats (Delta/Iceberg)
    industrialize: each write lands in a fresh ``v=<n>/`` subdirectory of
    ``base_path`` and is published by atomically creating an empty
    ``_COMMIT_v<n>`` marker (create-new through :func:`_create_new`,
    never rename/replace — the append-only-log commit; atomic on local
    paths and HDFS. Object
    stores without conditional PUT make create-new a check-then-write,
    which is why the single-writer contract below is load-bearing there,
    exactly as it is for every file-log table format without a lock
    service); the current version is simply the highest committed
    marker.

    Crash safety, by construction: a failure anywhere before the marker
    creation leaves the previous version current and the new ``v=<n>/``
    directory an invisible orphan (the next write overwrites and
    supersedes it) — readers (:func:`read_snapshot`) never observe a
    partial table, and the read-then-overwrite hazard of in-place
    ``mode("overwrite")`` (documented on
    ``streaming.incremental.stream_cdc_apply``) disappears: the new
    version is derived FROM the old one while the old one stays on disk.
    ``keep`` (>= 1) bounds disk growth by pruning versions older than the
    newest ``keep`` (marker first, then data, so a half-pruned version can
    never read as current; the sweep also collects markerless data dirs
    below the retention floor, so a crash BETWEEN the two deletes leaks
    nothing permanently). Single-writer per table, like every file-log
    format without a lock service.

    ``base_version`` lets a caller that already resolved the current
    committed version (e.g. a CDC loop that just read it) skip the extra
    listing. Returns the committed version number.
    """
    if keep < 1:
        raise ValueError(f"keep must be >= 1 (the current version), got {keep}")
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    base = _hadoop_path(jvm, base_path)
    fs = base.getFileSystem(conf)
    # ONE pre-write listing serves version resolution, staleness
    # validation AND both prune passes (everything the prune deletes
    # predates this write; deleting a marker cannot change which v=<n>
    # dirs exist) — object-store LISTs are the expensive metadata op here
    listing = list(fs.listStatus(base)) if fs.exists(base) else []
    committed = _committed_versions(listing)
    current = (
        base_version
        if base_version is not None
        else (max(committed) if committed else None)
    )
    version = (current if current is not None else -1) + 1
    if committed and version != max(committed) + 1:
        # a stale base_version (overlapping drains, cached value) must
        # fail BEFORE the data write — mode("overwrite") would destroy a
        # committed version's data, and a version AHEAD of the head is
        # just as destructive: its prune floor would sweep the real
        # head's marker and data. Exactly head+1 is the only valid write
        raise RuntimeError(
            f"snapshot version {version} under {base_path} is not ahead "
            f"of the committed head v{max(committed)} by exactly one — "
            "base_version is stale (concurrent writer or cached value); "
            "re-resolve with read_snapshot_version"
        )
    df.write.mode("overwrite").parquet(f"{base_path}/v={version}")
    marker = _hadoop_path(jvm, f"{base_path}/{_COMMIT_PREFIX}{version}")
    _create_new(fs, marker)  # create-new = the commit
    floor = version - keep
    for status in listing:
        mv = _version_suffix(status.getPath().getName(), _COMMIT_PREFIX)
        if mv is not None and mv <= floor:
            fs.delete(status.getPath(), False)
    for status in listing:
        # data dirs at/below the floor, markerless ones included (a
        # prior mid-prune crash deleted the marker only)
        dv = _version_suffix(status.getPath().getName(), "v=")
        if dv is not None and dv <= floor:
            fs.delete(status.getPath(), True)
    return version


def read_snapshot_version(spark, base_path: str) -> int | None:
    """The committed version number of a :func:`write_snapshot` table
    (highest ``_COMMIT_v<n>`` marker), or None if nothing has been
    published yet."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    base = _hadoop_path(jvm, base_path)
    fs = base.getFileSystem(conf)
    if not fs.exists(base):
        return None
    versions = _committed_versions(list(fs.listStatus(base)))
    return max(versions) if versions else None


def read_snapshot(spark, base_path: str, *, version: int | None = None) -> DataFrame:
    """Read the current committed version of a :func:`write_snapshot`
    table (or an explicit ``version`` a caller already resolved — time
    travel within the retention window). Raises if nothing has been
    published."""
    if version is None:
        version = read_snapshot_version(spark, base_path)
        if version is None:
            raise FileNotFoundError(f"no committed snapshot under {base_path}")
    else:
        # an explicit version must be a COMMITTED one: a crashed write can
        # leave a partial marker-less v=<n>/ dir, and reading it silently
        # would break the "never observe a partial table" invariant
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        marker = _hadoop_path(jvm, f"{base_path}/{_COMMIT_PREFIX}{version}")
        if not marker.getFileSystem(conf).exists(marker):
            raise FileNotFoundError(
                f"snapshot version {version} under {base_path} is not "
                "committed (crash orphan, pruned, or never written)"
            )
    return spark.read.parquet(f"{base_path}/v={version}")


def snapshot_changes(
    spark,
    base_path: str,
    key: str | list[str],
    *,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change data feed between two committed versions of a
    :func:`write_snapshot` table: every key inserted / deleted / updated
    between ``from_version`` and ``to_version`` (default: current),
    tagged and carrying old/new values — ``operators.corrections.
    snapshot_diff`` applied to the version directories that
    snapshot-versioning keeps on disk anyway. This is the read side of
    the CDC story: ``stream_cdc_apply_snapshot`` applies a change feed,
    this derives one, so a downstream table can subscribe to increments
    instead of re-reading the 100 TB table per refresh. Both versions
    must still be within the retention window (``keep``).
    """
    from tibame_project_spark.operators.corrections import snapshot_diff

    if to_version is None:
        to_version = read_snapshot_version(spark, base_path)
        if to_version is None:
            raise FileNotFoundError(f"no committed snapshot under {base_path}")
    old = read_snapshot(spark, base_path, version=from_version)
    new = read_snapshot(spark, base_path, version=to_version)
    return snapshot_diff(old, new, key)
