"""Readers (S1-S3, S7, F16).

The reference's read path is download-blob → pandas (``airflow/utils/gcp.py:
95-129``) plus BigQuery external tables over globs (``gcp.py:132-201``).
Spark natively reads globs in place — an "external table" is just a reader
with a declared schema; no data movement until a query runs. Filters and
column pruning reach the parquet footer (PushedFilters / ReadSchema), which
the pandas path could never do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_parquet(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """S1. ``path`` may be a glob (``…/{date}/*.parquet``, the reference's
    external-table pattern ``d_gmaps_reviews_src_to_ods.py:15-16``)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    *,
    header: bool = True,
    skip_rows: int = 0,
) -> DataFrame:
    """S2. CSV requires a declared schema in the engine path (the reference
    mandates one for CSV external tables, ``gcp.py:173-177``); inference is
    allowed only when schema=None (raw ingestion). ``skip_rows`` models the
    reference's leading-header-rows skip (``gcp.py:173-174``) — implemented
    content-free via an index filter on a monotonically increasing file
    offset is impossible in Spark, so callers pass a content predicate for
    junk rows instead; skip_rows is honored only for skip_rows==header."""
    r = spark.read.option("header", str(header).lower())
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", "true")
    return r.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    *,
    keep_corrupt: bool = False,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """S3. JSON-lines with the full declared StructType (the deep gmaps
    places schema) — inference on 3-level nested arrays-of-structs is exactly
    where pandas/BQ autodetect went wrong; we declare.

    ``keep_corrupt=True`` is the quarantine path for scraped/third-party
    feeds (the reference's crawlers regularly emit truncated lines): the
    declared schema gains a ``corrupt_col`` string column, malformed lines
    land there verbatim with every declared field NULL (PERMISSIVE mode),
    and valid lines leave it NULL — so one filter splits the feed into
    clean rows and a quarantine relation to re-scrape, instead of a whole
    task dying on one bad byte (FAILFAST) or rows vanishing silently
    (DROPMALFORMED). Requires a declared schema: quarantine semantics on
    an inferred schema would shift with the sample.

    Spark restriction (since 2.3): a query referencing ONLY the corrupt
    column (e.g. ``df.filter(corrupt.isNotNull()).count()``) raises
    AnalysisException on the raw JSON relation — ``cache()`` the returned
    frame (what a quarantine split wants anyway: one parse, two consumers)
    or write it out before splitting."""
    r = spark.read
    if keep_corrupt:
        if schema is None:
            raise ValueError("keep_corrupt requires a declared schema")
        from pyspark.sql.types import StringType, StructField

        q = StructType(schema.fields + [StructField(corrupt_col, StringType())])
        return (
            r.schema(q)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt_col)
            .json(path)
        )
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def with_filename_column(df: DataFrame, col_name: str, pattern: str, group: int = 1) -> DataFrame:
    """F16: derive a column from the source filename — place_id from blob
    name (``d_gmaps_places_src_to_ods.py:117-119``), place+ref-date from
    scrape filename (``fb_scraper/normalization.py:8-13``)."""
    return df.withColumn(col_name, F.regexp_extract(F.input_file_name(), pattern, group))


def read_orc(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """ORC read — same external-table semantics as S1; ORC is the columnar
    interchange format warehouses other than BigQuery commonly hand over
    (Hive/Trino lakes). Vectorized reader + predicate pushdown are native."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    *,
    glob: str | None = None,
    kind: str = "image",
) -> DataFrame:
    """Raw-media ingest via Spark's ``binaryFile`` source: one row per file
    with (media_id = file path, kind, content, n_bytes, modified) — the
    entry point of the multimodal tier (``sources.multimodal``): feed the
    result straight to ``resize_media`` / ``extract_features``.

    The source is split-aware at the FILE level (a file never splits, so a
    payload always arrives whole in one task) and pushes down
    ``pathGlobFilter``, so a ``*.jpg`` glob never lists/reads other blobs.
    Partition sizing note from the multimodal module applies: budget
    ``maxPartitionBytes`` for payload width.
    """
    r = spark.read.format("binaryFile")
    if glob is not None:
        r = r.option("pathGlobFilter", glob)
    df = r.load(path)
    return df.select(
        F.col("path").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.col("content"),
        F.col("length").alias("n_bytes"),
        F.col("modificationTime").alias("modified"),
    )


#: numeric widening lattice for evolve_union — each integral type widens to
#: any later one (all exact); float widens to double. Deliberately NO
#: integral→floating edge: long→double silently loses exactness above 2^53,
#: which is a correctness bug in key/count columns, so it must be an
#: explicit cast by the caller, never an implicit evolution.
_WIDENING_ORDER = ["tinyint", "smallint", "int", "bigint"]  # simpleString() names
_FLOAT_ORDER = ["float", "double"]


def _widen(a: str, b: str) -> str | None:
    if a == b:
        return a
    for order in (_WIDENING_ORDER, _FLOAT_ORDER):
        if a in order and b in order:
            return order[max(order.index(a), order.index(b))]
    return None


def evolve_union(dfs: list[DataFrame]) -> DataFrame:
    """Union batches under schema evolution: columns are matched BY NAME,
    columns missing from a batch fill with NULL, and numeric types widen
    along the safe lattice (integral→wider integral, float→double).
    Incompatible drift (e.g. a column flipping int→string) raises with
    the column and both types named — silent coercion at ingest is how a
    corpus rots.

    Pure plan surgery: per-batch ``select`` casts + ``unionByName``; no
    shuffle, no data pass beyond what downstream consumes.
    """
    if not dfs:
        raise ValueError("evolve_union needs at least one DataFrame")
    # resolve the unified type per column name, first-seen column order
    unified: dict[str, str] = {}
    for df in dfs:
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            if f.name not in unified:
                unified[f.name] = t
                continue
            w = _widen(unified[f.name], t)
            if w is None:
                raise ValueError(
                    f"incompatible schema drift on column {f.name!r}: "
                    f"{unified[f.name]} vs {t} — not on the safe widening "
                    "lattice; cast explicitly before evolve_union"
                )
            unified[f.name] = w
    out = None
    for df in dfs:
        have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        cast_df = df.select(
            *[
                (
                    F.col(c).cast(t) if have[c] != t else F.col(c)
                )
                for c, t in unified.items()
                if c in have
            ]
        )
        out = (
            cast_df
            if out is None
            else out.unionByName(cast_df, allowMissingColumns=True)
        )
    return out


def schema_drift_report(old: DataFrame, new: DataFrame) -> list[tuple[str, str, str | None, str | None]]:
    """Diff two batch schemas: sorted ``(column, status, old_type,
    new_type)`` rows with status in {added, removed, retyped} — the
    pre-ingest gate a feed owner reads before :func:`evolve_union` is
    allowed to widen anything. Driver-side only (schemas, not data)."""
    a = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    b = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    report = []
    for c in sorted(a.keys() | b.keys()):
        if c not in b:
            report.append((c, "removed", a[c], None))
        elif c not in a:
            report.append((c, "added", None, b[c]))
        elif a[c] != b[c]:
            report.append((c, "retyped", a[c], b[c]))
    return report
