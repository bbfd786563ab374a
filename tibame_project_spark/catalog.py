"""Layered catalog: src / ods / dim / fact / mart namespaces.

Mirrors the reference's medallion layering (``airflow/utils/config.yml:12-17``)
and its env-suffixed table naming (``table_name_with_env``,
``airflow/utils/common.py:115-116``) as Spark catalog databases + a pure
naming helper — no custom metastore, just ``spark.sql`` DDL over parquet.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LAYERS = ("src", "ods", "dim", "fact", "mart")

#: Tables the driver's synthetic testdata provides (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Session confs that change what parquet schema inference returns (the
#: flags of Spark's ``ParquetToSparkSchemaConverter``).
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.caseSensitive",
)

#: realpath -> (stamp, inferred schema) of the last inference per file;
#: see :func:`load`.
_SCHEMA_MEMO: dict[str, tuple[tuple, StructType]] = {}


def table_name(layer: str, name: str, env: str | None = None) -> str:
    """``(layer, name, env) -> "layer.name_env"``.

    Reference: BigQuery dataset per layer + ``f"{table_name}_{env}"`` suffix
    (``airflow/utils/common.py:104-116``). ``env=None``/"prod" → no suffix.
    """
    if layer not in LAYERS:
        raise ValueError(f"unknown layer {layer!r}; expected one of {LAYERS}")
    env = env if env is not None else os.environ.get("TIBAME_ENV", "")
    suffix = f"_{env}" if env and env != "prod" else ""
    return f"{layer}.{name.replace('-', '_')}{suffix}"


def ensure_layers(spark: SparkSession, location: str | None = None) -> None:
    """Create the five layer databases if absent (idempotent, like the
    reference's dataset bootstrap)."""
    for layer in LAYERS:
        loc = f" LOCATION '{location}/{layer}'" if location else ""
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {layer}{loc}")


def register_testdata(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Register each testdata parquet as a temp view named after the table.

    Equivalent of the reference's external-table-over-glob bootstrap
    (``airflow/utils/gcp.py:132-201``) for the driver's synthetic tables.
    ``tables`` narrows registration to the views a query actually reads —
    view creation is per-table driver work (schema resolution), so callers
    on a hot path shouldn't pay for ten tables to use one. Each table goes
    through :func:`load`, so re-registering unchanged files runs no
    schema-inference job (the memo contract is documented there).
    """
    out: dict[str, DataFrame] = {}
    for t in tables if tables is not None else TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            df = load(spark, sf_dir, t)
            df.createOrReplaceTempView(t)
            out[t] = df
    return out


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame (schema from parquet footer).

    events.ts is stored as TIMESTAMP(NANOS), which Spark's parquet reader
    cannot represent; with ``nanosAsLong`` it arrives as a bigint of epoch
    nanos and is converted here to a microsecond timestamp (truncation —
    identical to DuckDB's ns→us read of the same file).

    Both required confs are set here at runtime so ``load`` is
    self-sufficient on a *foreign* (vanilla) SparkSession — e.g. the
    driver's harness — not just one built by ``session.get_spark``:

    - ``nanosAsLong`` (runtime-settable legacy conf) keeps the NANOS read
      from dying with PARQUET_TYPE_ILLEGAL;
    - ``session.timeZone=UTC`` makes calendar math over events match the
      naive-UTC semantics of the parquet/DuckDB oracle.

    Schema memo: ``spark.read.parquet`` runs one schema-inference Spark job
    per call, even for a single file. When the path is a regular file, the
    inferred schema is kept per realpath, stamped with the file's size,
    ``st_mtime_ns`` and inode and with the session confs that change what
    inference returns (``_INFERENCE_CONFS``: ``nanosAsLong``,
    ``binaryAsString``, ``int96AsTimestamp``, ``inferTimestampNTZ``, ...).
    A later load with an equal stamp reads with
    ``spark.read.schema(memoized)`` and runs no job; the file listing
    itself stays fresh. A changed stamp infers again and replaces the
    entry (one entry per path). A directory, or a path ``os.stat`` cannot
    reach, infers on every call.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def file_stamp(path: str) -> tuple[int, int, int] | None:
    """``(size, st_mtime_ns, inode)`` of the regular file at ``path`` —
    the version stamp of everything kept per input file (the schema memo
    of :func:`load`, the built-once indexes of the query registry). None
    for a directory or a path ``os.stat`` cannot reach: such an input has
    no version to key on. Take the stamp BEFORE reading the file, so a
    file that changes during the read leaves a stale stamp (a rebuild
    next time), never a stale result."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (st.st_size, st.st_mtime_ns, st.st_ino)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` through the schema memo of :func:`load`,
    stamped by :func:`file_stamp` and the inference confs."""
    st = file_stamp(path)
    if st is None:
        return spark.read.parquet(path)
    real = os.path.realpath(path)
    stamp = (st, tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS))
    hit = _SCHEMA_MEMO.get(real)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[real] = (stamp, df.schema)
    return df


def table_exists(spark: SparkSession, qualified: str) -> bool:
    """Idempotent-create guard (reference skips existing tables,
    ``airflow/utils/gcp.py:162-165``)."""
    return spark.catalog.tableExists(qualified)


def create_table_as(
    spark: SparkSession,
    qualified: str,
    select_sql: str,
    *,
    partition_by: str | None = None,
    replace: bool = True,
) -> None:
    """CTAS (S9 — ``CREATE OR REPLACE TABLE … PARTITION BY … AS SELECT``,
    ``d_gmaps_fact_reviews.py:36-48``). The v1 session catalog has no atomic
    REPLACE TABLE AS SELECT (that's a v2-catalog feature, e.g. Delta/Iceberg)
    — drop+create reproduces the reference's full-replace semantics."""
    if replace:
        spark.sql(f"DROP TABLE IF EXISTS {qualified}")
    part = f" PARTITIONED BY ({partition_by})" if partition_by else ""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {qualified} USING parquet{part} AS {select_sql}"
    )


def drop_table(spark: SparkSession, qualified: str) -> bool:
    """DROP TABLE IF EXISTS (S11 — ``airflow/utils/gcp.py:326-345``);
    returns whether it existed."""
    existed = table_exists(spark, qualified)
    spark.sql(f"DROP TABLE IF EXISTS {qualified}")
    return existed


def rename_table(spark: SparkSession, src: str, dst: str) -> None:
    """Rename (S11 — the reference has no native BQ rename and does
    copy+drop, ``airflow/utils/gcp.py:385-445``; Spark's metastore rename is
    atomic for managed tables)."""
    spark.sql(f"ALTER TABLE {src} RENAME TO {dst}")


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """ANALYZE-style column profile: (column, n_rows, n_null, n_distinct)
    per profiled column — the stats a planner (or a data steward) wants
    before trusting a new feed. Restricted to counts on purpose: min/max
    would need cross-engine-stable value formatting; counts are integers
    everywhere.

    One aggregation pass over the table (Catalyst expands the multiple
    exact count-distincts into a single Expand + two-stage aggregate), then
    a k-row explode of the wide result — profile cost is one scan
    regardless of how many columns are profiled."""
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"__null_{c}"))
        aggs.append(F.countDistinct(c).alias(f"__dist_{c}"))
    wide = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                F.col(f"__null_{c}").alias("n_null"),
                F.col(f"__dist_{c}").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(entries).alias("__e")).select("__e.*")


def analyze_table(
    spark: SparkSession,
    qualified: str,
    *,
    columns: list[str] | None = None,
) -> dict:
    """ANALYZE TABLE: collect table-level (row count, size) and optional
    per-column (NDV, null count, min/max) statistics into the catalog —
    what turns Catalyst's cost-based decisions (broadcast-vs-shuffle join
    selection, join reordering) from file-size guesses into informed ones.
    On a 100 TB warehouse this runs as a scheduled maintenance pass next
    to compaction; a dimension that LOOKS big on disk but has few rows
    only broadcasts if the catalog knows its row count.

    Returns {"statistics": <raw catalog string>, "sizeInBytes": int,
    "rowCount": int | None} parsed from DESCRIBE EXTENDED (rowCount is
    None until a COMPUTE STATISTICS has recorded it; the dict is empty if
    the catalog exposes no Statistics row at all).
    """
    import re

    spark.sql(f"ANALYZE TABLE {qualified} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {qualified} COMPUTE STATISTICS FOR COLUMNS {cols}")
    out: dict = {}
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {qualified}").collect():
        if r["col_name"] == "Statistics":
            raw = r["data_type"]
            out["statistics"] = raw
            m = re.search(r"(\d+)\s+bytes", raw)
            out["sizeInBytes"] = int(m.group(1)) if m else None
            m = re.search(r"(\d+)\s+rows", raw)
            out["rowCount"] = int(m.group(1)) if m else None
    return out
