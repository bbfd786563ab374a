"""The one clustering writer (``writers._clustered_write``): its file
layout is a function of the rows, never of the process's RDD ids or of
the frame's upstream order, and its per-file key ranges are disjoint
for every orderable key it meets."""

from __future__ import annotations

import glob
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def _file_ranges(path, cols):
    """Sorted per-file ``(min, max per column..., rows)`` of every parquet
    data file under ``path``."""
    out = []
    for f in glob.glob(os.path.join(path, "**", "part-*.parquet"), recursive=True):
        t = pq.read_table(f, columns=cols)
        if t.num_rows:
            out.append(
                tuple(
                    v
                    for c in cols
                    for v in (pc.min(t[c]).as_py(), pc.max(t[c]).as_py())
                )
                + (t.num_rows,)
            )
    return sorted(out)


def test_clustered_layouts_are_a_function_of_the_rows(spark, tmp_path):
    """One skewed frame written five times through each clustered writer,
    with 0-4 throwaway RDDs made before each round and the frame's
    upstream partitioning changed: every write's per-file
    ``(min, max, rows)`` set is the same in every round. Spark's range
    partitioner seeds its boundary sample from the RDD id, so a
    range-partitioned writer gives a different layout from round to
    round."""
    from tibame_project_spark.sources.manifest import write_manifest_table
    from tibame_project_spark.sources.writers import (
        write_sorted_parquet,
        write_zorder_parquet,
    )

    df = spark.range(60000).select(
        F.col("id"),
        # one key holds a third of the rows
        F.when(F.col("id") % 3 == 0, F.lit(7))
        .otherwise((F.col("id") * 7919) % 20000)
        .alias("k"),
        F.when(F.col("id") % 3 == 0, F.lit(5))
        .otherwise((F.col("id") * 7919) % 256)
        .alias("x"),
        ((F.col("id") * 104729) % 256).alias("y"),
        F.md5(F.col("id").cast("string")).alias("p"),
    )
    writes = {
        "manifest_k": (
            ["k"],
            lambda d, p: write_manifest_table(
                spark, d, p, stats_cols=["k"], cluster_by="k", n_files=4
            ),
        ),
        "manifest_xy": (
            ["x", "y"],
            lambda d, p: write_manifest_table(
                spark, d, p, stats_cols=["x", "y"], cluster_by=["x", "y"],
                n_files=4,
            ),
        ),
        "sorted": (
            ["k"],
            lambda d, p: write_sorted_parquet(d, p, layout_cols="k", n_files=4),
        ),
        "zorder": (
            ["x", "y"],
            lambda d, p: write_zorder_parquet(
                d, p, layout_cols=["x", "y"], bits=8, n_files=4
            ),
        ),
    }
    seen = {name: set() for name in writes}
    for r in range(5):
        for _ in range(r):
            spark.sparkContext.parallelize([])  # shifts the RDD ids, no job
        frame = df.repartition(2 + r, "id")
        for name, (cols, write) in writes.items():
            path = str(tmp_path / f"{name}_{r}")
            write(frame, path)
            data = os.path.join(path, "data")  # a manifest table's files
            ranges = _file_ranges(data if os.path.isdir(data) else path, cols)
            assert sum(rg[-1] for rg in ranges) == 60000, (name, ranges)
            seen[name].add(tuple(ranges))
    assert {name: len(s) for name, s in seen.items()} == dict.fromkeys(writes, 1), seen


_EDGE_CASES = {
    "null_keys": (
        ["k"],
        4,
        lambda d: d.select(
            "id",
            F.when(F.col("id") % 10 == 0, F.lit(None))
            .otherwise(F.col("id") % 37)
            .alias("k"),
        ),
    ),
    "double_nan_negzero": (
        ["k"],
        4,
        lambda d: d.select(
            "id",
            F.when(F.col("id") % 7 == 0, F.lit(float("nan")))
            .when(F.col("id") % 7 == 1, F.lit(-0.0))
            .when(F.col("id") % 7 == 2, F.lit(0.0))
            .otherwise((F.col("id") * 13 % 100 - 50).cast("double") / 4)
            .alias("k"),
        ),
    ),
    "string": (
        ["k"],
        4,
        lambda d: d.select(
            "id",
            F.concat(
                F.when(F.col("id") % 2 == 0, F.lit("景點")).otherwise(F.lit("s")),
                ((F.col("id") * 7919) % 500).cast("string"),
            ).alias("k"),
        ),
    ),
    "timestamp": (
        ["k"],
        4,
        lambda d: d.select(
            "id", F.timestamp_seconds((F.col("id") * 7919) % 1000000).alias("k")
        ),
    ),
    "two_columns": (
        ["a", "b"],
        4,
        lambda d: d.select(
            "id",
            (F.col("id") % 3).alias("a"),
            ((F.col("id") * 7919) % 1000).alias("b"),
        ),
    ),
    "map_column": (
        ["k"],
        4,
        lambda d: d.select(
            "id",
            ((F.col("id") * 7919) % 1000).alias("k"),
            F.create_map(F.lit("v"), F.col("id")).alias("m"),
        ),
    ),
    "fewer_keys_than_files": (
        ["k"],
        8,
        lambda d: d.select("id", (F.col("id") % 3).alias("k")),
    ),
}


@pytest.mark.parametrize("case", sorted(_EDGE_CASES))
def test_clustered_write_edge_cases(spark, tmp_path, case):
    """Per-file key ranges are disjoint in Spark's own ordering (NULL
    first, NaN last, -0.0 = 0.0, structs field by field) and the written
    content is checksum-equal to the input, for every key kind the
    writer routes."""
    from tibame_project_spark.sources.writers import write_sorted_parquet

    cols, n_files, build = _EDGE_CASES[case]
    df = build(spark.range(5000))
    path = str(tmp_path / case)
    write_sorted_parquet(df, path, layout_cols=cols, n_files=n_files)

    back = spark.read.parquet(path)
    files = back.groupBy(F.input_file_name().alias("f")).agg(
        F.min(F.struct(*cols)).alias("lo"), F.max(F.struct(*cols)).alias("hi")
    )
    a, b = files.alias("a"), files.alias("b")
    overlapping = a.join(
        b,
        (F.col("a.f") < F.col("b.f"))
        & (F.col("a.lo") <= F.col("b.hi"))
        & (F.col("b.lo") <= F.col("a.hi")),
    )
    assert files.count() >= 2
    assert overlapping.count() == 0, overlapping.collect()

    def checksum(d):
        return d.agg(
            F.count(F.lit(1)),
            F.sum(
                F.xxhash64(F.to_json(F.struct(*df.columns))).cast("decimal(38,0)")
            ),
        ).first()

    assert checksum(back) == checksum(df)


def test_clustered_write_jobs(spark, spark_jobs, tmp_path):
    """A clustered write of a scan costs one sample job, the id exchange's
    map job and the write's job — the three a range-partitioned write
    costs; one output file costs the write's job alone."""
    from tibame_project_spark.sources.writers import write_sorted_parquet

    df = spark.range(10000).select(((F.col("id") * 7919) % 1000).alias("k"))
    with spark_jobs() as jobs:
        write_sorted_parquet(df, str(tmp_path / "four"), layout_cols="k", n_files=4)
    assert jobs() == 3
    with spark_jobs() as jobs:
        write_sorted_parquet(df, str(tmp_path / "one"), layout_cols="k", n_files=1)
    assert jobs() == 1
