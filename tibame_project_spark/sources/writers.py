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
