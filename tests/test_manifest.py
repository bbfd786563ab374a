"""Manifest-backed tables (sources/manifest.py): incremental commits,
per-file stats, data skipping, file-skipping MERGE, compaction, vacuum.

The reference refreshes its BigQuery marts by full CREATE-OR-REPLACE
(e.g. create_dim_attraction_hashtag.py, create_fact_*.py) — BigQuery's
storage does the incremental bookkeeping for it. On plain files this
module IS that bookkeeping, so the tests assert the storage invariants
the reference gets implicitly: readers never see partial state, history
within retention is readable, and content equals the logical replay.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tibame_project_spark.sources.manifest import (
    append_manifest_table,
    compact_manifest_table,
    manifest_file_paths,
    manifest_stats,
    merge_manifest_table,
    read_manifest_table,
    read_manifest_version,
    restore_manifest_table,
    vacuum_manifest_table,
    write_manifest_table,
)


def _mk(spark, rows, schema="id long, v long"):
    from tibame_project_spark.localdf import local_rows_df

    df = local_rows_df(spark, rows or [(999999, 0)], schema)
    return df if rows else df.where("id < 0")


def _content(spark, base, **kw):
    return {
        (r["id"], r["v"]) for r in read_manifest_table(spark, base, **kw).collect()
    }


def test_create_read_roundtrip_and_files(spark, tmp_path):
    base = str(tmp_path / "t")
    df = spark.range(0, 200).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    assert write_manifest_table(
        spark, df, base, stats_cols=["id"], cluster_by="id", n_files=4
    ) == 0
    assert read_manifest_version(spark, base) == 0
    got = read_manifest_table(spark, base)
    assert got.count() == 200
    assert {r["id"] for r in got.collect()} == set(range(200))
    man = manifest_stats(spark, base)
    assert set(man.columns) == {
        "path", "bytes", "rows", "min_id", "max_id", "dv_path", "schema_id"
    }
    rows = man.collect()
    assert len(rows) == 4 and sum(r["rows"] for r in rows) == 200
    # cluster_by=id gives disjoint tight ranges: global min/max covered
    assert min(r["min_id"] for r in rows) == 0
    assert max(r["max_id"] for r in rows) == 199


def test_prune_skips_files_and_loses_no_rows(spark, tmp_path):
    base = str(tmp_path / "t")
    df = spark.range(0, 1000).select(F.col("id"), (F.col("id") % 5).alias("v"))
    write_manifest_table(
        spark, df, base, stats_cols=["id"], cluster_by="id", n_files=8
    )
    kept = manifest_file_paths(spark, base, prune="max_id >= 900")
    assert 1 <= len(kept) < 8  # actually skipped something
    pruned = read_manifest_table(spark, base, prune="max_id >= 900").where(
        "id >= 900"
    )
    full = read_manifest_table(spark, base).where("id >= 900")
    assert {r["id"] for r in pruned.collect()} == {r["id"] for r in full.collect()}


def test_zorder_cluster_prunes_on_second_dimension(spark, tmp_path):
    """cluster_by=[x, y] lays files out on the Morton curve: a y-only box
    predicate skips most files, where the x-sorted layout (whose files all
    span y's full range) skips none — the manifest-level twin of the
    write_zorder_parquet row-group test."""
    grid = (
        spark.range(0, 64 * 64)
        .select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
        )
    )
    zbase, xbase = str(tmp_path / "z"), str(tmp_path / "x")
    write_manifest_table(
        spark, grid, zbase, stats_cols=["x", "y"], cluster_by=["x", "y"],
        n_files=16, zorder_bits=6,
    )
    write_manifest_table(
        spark, grid, xbase, stats_cols=["x", "y"], cluster_by="x", n_files=16
    )
    prune = "min_y <= 3 AND max_y >= 0"  # y in [0, 3]
    kept_z = manifest_file_paths(spark, zbase, prune=prune)
    kept_x = manifest_file_paths(spark, xbase, prune=prune)
    assert len(kept_x) == 16  # linear-on-x: every file spans all of y
    assert len(kept_z) < 8  # Morton: the y-slab lives in a few rectangles
    got = read_manifest_table(spark, zbase, prune=prune).where("y <= 3")
    assert got.count() == 64 * 4  # pruning lost no rows


def test_zorder_cluster_prunes_conjunctive_box(spark, tmp_path):
    """r08 (VERDICT r07 #8, the x∧y case): under a conjunctive box
    predicate on BOTH clustered columns, the Morton layout confines the
    box to a handful of hyper-rectangle files — strictly fewer than
    either single-column prune keeps — while a linear x-sorted layout
    gets no additional skipping from the y conjunct. 256×256 grid, 64
    files (file geometry ≈ 32×32 Morton squares), so the skip ratios are
    the ones a 100 TB table with the same file/box proportions would see.
    """
    side = 256
    grid = spark.range(0, side * side).select(
        (F.col("id") % side).alias("x"),
        (F.col("id") / side).cast("long").alias("y"),
    )
    zbase, xbase = str(tmp_path / "zc"), str(tmp_path / "xc")
    write_manifest_table(
        spark, grid, zbase, stats_cols=["x", "y"], cluster_by=["x", "y"],
        n_files=64, zorder_bits=8,
    )
    write_manifest_table(
        spark, grid, xbase, stats_cols=["x", "y"], cluster_by="x", n_files=64
    )
    box = ("min_x <= 15 AND max_x >= 8 AND min_y <= 23 AND max_y >= 16")
    x_only = "min_x <= 15 AND max_x >= 8"
    y_only = "min_y <= 23 AND max_y >= 16"
    kept = {
        (layout, name): len(manifest_file_paths(spark, base, prune=p))
        for layout, base in (("z", zbase), ("x", xbase))
        for name, p in (("box", box), ("x", x_only), ("y", y_only))
    }
    # Morton: the 8×8 box sits inside one 32×32 file square (± range-
    # partitioner boundary slop) — measured skip ratio ≥ 58/64
    assert kept[("z", "box")] <= 6
    # conjunctive beats BOTH of its own single-column prunes
    assert kept[("z", "box")] < kept[("z", "x")]
    assert kept[("z", "box")] < kept[("z", "y")]
    # linear layout: y conjunct skips nothing beyond the x prune, and its
    # y-only prune keeps every file (each x-slab spans all of y)
    assert kept[("x", "box")] == kept[("x", "x")]
    assert kept[("x", "y")] == 64
    got = read_manifest_table(spark, zbase, prune=box).where(
        "x BETWEEN 8 AND 15 AND y BETWEEN 16 AND 23"
    )
    assert got.count() == 8 * 8  # pruning lost no rows


def test_append_is_metadata_union(spark, tmp_path):
    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.range(0, 100).select(F.col("id"), F.lit(1).cast("long").alias("v")),
        base,
        stats_cols=["id"],
        n_files=2,
    )
    before = set(manifest_file_paths(spark, base))
    append_manifest_table(
        spark,
        spark.range(100, 150).select(F.col("id"), F.lit(2).cast("long").alias("v")),
        base,
        n_files=1,
    )
    after = set(manifest_file_paths(spark, base))
    # every pre-existing file carried forward VERBATIM, new ones added
    assert before < after
    assert read_manifest_table(spark, base).count() == 150


def test_append_schema_mismatch_raises(spark, tmp_path):
    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"]
    )
    with pytest.raises(ValueError, match="append schema"):
        append_manifest_table(
            spark, spark.createDataFrame([(1, "x")], "id long, v string"), base
        )


def test_append_schema_evolution_add_column(spark, tmp_path):
    """allow_evolution widens the schema in metadata only: pre-evolution
    files read NULL for the new column without being rewritten, time
    travel keeps the old shape, merges speak the evolved schema, and
    drops/retypes stay rejected."""
    base = str(tmp_path / "t")
    write_manifest_table(spark, _mk(spark, [(1, 10)]), base, stats_cols=["id"])
    old_files = set(manifest_file_paths(spark, base))
    evolved = spark.createDataFrame([(2, 20, "en")], "id long, v long, lang string")
    with pytest.raises(ValueError, match="allow_evolution"):
        append_manifest_table(spark, evolved, base)
    append_manifest_table(spark, evolved, base, allow_evolution=True)
    assert old_files < set(manifest_file_paths(spark, base))  # no rewrite
    got = read_manifest_table(spark, base)
    assert got.columns == ["id", "v", "lang"]
    assert {(r["id"], r["v"], r["lang"]) for r in got.collect()} == {
        (1, 10, None),  # pre-evolution file: NULL-filled, never rewritten
        (2, 20, "en"),
    }
    assert read_manifest_table(spark, base, version=0).columns == ["id", "v"]
    # merge speaks the evolved schema (source carries every column)
    merge_manifest_table(
        spark,
        spark.createDataFrame(
            [(1, 11, "zh", False)], "id long, v long, lang string, dead boolean"
        ),
        base,
        "id",
        delete_col="dead",
    )
    assert {
        tuple(r) for r in read_manifest_table(spark, base).collect()
    } == {(1, 11, "zh"), (2, 20, "en")}
    # dropping or retyping a column is rejected even with evolution on
    with pytest.raises(ValueError, match="drops or retypes"):
        append_manifest_table(
            spark,
            spark.createDataFrame([(3, "x")], "id long, v string"),
            base,
            allow_evolution=True,
        )


def test_merge_rewrites_only_candidate_files(spark, tmp_path):
    base = str(tmp_path / "t")
    df = spark.range(0, 1000).select(F.col("id"), F.lit(0).cast("long").alias("v"))
    write_manifest_table(
        spark, df, base, stats_cols=["id"], cluster_by="id", n_files=8
    )
    before = set(manifest_file_paths(spark, base))
    # batch confined to a narrow key range: update 10..19, insert 1900..1901
    batch = spark.createDataFrame(
        [(i, 7, False) for i in range(10, 20)]
        + [(1900 + i, 7, False) for i in range(2)],
        "id long, v long, dead boolean",
    )
    merge_manifest_table(spark, batch, base, "id", delete_col="dead")
    after = set(manifest_file_paths(spark, base))
    carried = before & after
    # the batch's key ranges touch a strict subset of the 8 files; the
    # rest are carried forward untouched — THE manifest-merge win
    assert carried, "expected untouched files to be carried forward"
    assert len(before - after) < len(before)
    got = _content(spark, base)
    want = {(i, 7 if 10 <= i < 20 else 0) for i in range(1000)} | {
        (1900, 7),
        (1901, 7),
    }
    assert got == want


def test_merge_deletes_and_empty_batch_noop(spark, tmp_path):
    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(10)]), base, stats_cols=["id"]
    )
    batch = spark.createDataFrame(
        [(3, 0, True), (4, 40, False), (99, 99, False)],
        "id long, v long, dead boolean",
    )
    v = merge_manifest_table(spark, batch, base, "id", delete_col="dead")
    assert v == 1
    want = {(i, i) for i in range(10) if i != 3 and i != 4} | {(4, 40), (99, 99)}
    assert _content(spark, base) == want
    # empty batch commits a metadata-only no-op version
    v2 = merge_manifest_table(
        spark, batch.where("id < 0"), base, "id", delete_col="dead"
    )
    assert v2 == 2 and _content(spark, base) == want


@pytest.mark.parametrize("verb", ["merge", "delete"])
@pytest.mark.parametrize("fold", [True, False])
def test_merge_candidate_fold_matches_semijoin(
    spark, tmp_path, monkeypatch, fold, verb
):
    """The folded per-file candidacy flags (r14: candidate detection rides
    the bounds agg) must pick exactly the files the broadcast semi-join
    picks, for both keyed verbs — the merge rewrites, the delete
    repoints, the same one file either way, with the same surviving
    content."""
    from tibame_project_spark.sources import manifest as M

    if not fold:
        monkeypatch.setattr(M, "_CAND_FOLD_MAX_FILES", 0)
    base = str(tmp_path / "t")
    df = spark.range(0, 1000).select(F.col("id"), F.lit(0).cast("long").alias("v"))
    write_manifest_table(
        spark, df, base, stats_cols=["id"], cluster_by="id", n_files=8
    )
    ranges = {
        r["path"]: (r["min_id"], r["max_id"])
        for r in manifest_stats(spark, base).collect()
    }
    # 10..19 lives in one of the 8 clustered files; 1900 is out of every
    # file's range — both paths must touch exactly that one file
    (hit,) = [p for p, (lo, hi) in ranges.items() if lo <= 19 and hi >= 10]
    batch = spark.createDataFrame(
        [(i, 7, False) for i in range(10, 20)] + [(1900, 7, False)],
        "id long, v long, dead boolean",
    )
    if verb == "merge":
        merge_manifest_table(spark, batch, base, "id", delete_col="dead")
        assert set(ranges) - set(manifest_file_paths(spark, base)) == {hit}
        want = {(i, 7 if 10 <= i < 20 else 0) for i in range(1000)} | {
            (1900, 7)
        }
    else:
        M.delete_manifest_table(spark, batch.select("id"), base, "id")
        dv = {r["path"]: r["dv_path"] for r in manifest_stats(spark, base).collect()}
        assert set(dv) == set(ranges)
        assert {p for p, d in dv.items() if d} == {hit}
        want = {(i, 0) for i in range(1000) if not 10 <= i < 20}
    assert _content(spark, base) == want


def test_merge_candidate_fold_string_key_and_unsafe_type_fallback(
    spark, tmp_path, monkeypatch
):
    """String keys fold (literal-safe); timestamp keys must NOT fold
    (naive-literal coercion is not provably the join's) — and the
    fallback semi-join path still produces the right content."""
    from tibame_project_spark.sources import manifest as M

    base = str(tmp_path / "s")
    rows = [(f"k{i:03d}", i) for i in range(100)]
    write_manifest_table(
        spark,
        spark.createDataFrame(rows, "id string, v long"),
        base,
        stats_cols=["id"],
        cluster_by="id",
        n_files=4,
    )
    assert M._cand_fold_files(
        M._load_manifest(spark, base, read_manifest_version(spark, base)), "id"
    )
    before = set(manifest_file_paths(spark, base))
    batch = spark.createDataFrame(
        [("k005", -5, False), ("zzz", 1, False)], "id string, v long, dead boolean"
    )
    merge_manifest_table(spark, batch, base, "id", delete_col="dead")
    assert len(before & set(manifest_file_paths(spark, base))) == len(before) - 1
    want = {(f"k{i:03d}", -5 if i == 5 else i) for i in range(100)} | {("zzz", 1)}
    assert {
        (r["id"], r["v"]) for r in read_manifest_table(spark, base).collect()
    } == want

    tbase = str(tmp_path / "ts")
    write_manifest_table(
        spark,
        spark.sql(
            "SELECT timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id) AS id,"
            " id AS v FROM range(10)"
        ),
        tbase,
        stats_cols=["id"],
    )
    assert (
        M._cand_fold_files(
            M._load_manifest(spark, tbase, read_manifest_version(spark, tbase)),
            "id",
        )
        is None
    )
    tb = spark.sql(
        "SELECT timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,3) AS id,"
        " CAST(99 AS bigint) AS v, false AS dead"
    )
    merge_manifest_table(spark, tb, tbase, "id", delete_col="dead")
    got = {
        r["v"] for r in read_manifest_table(spark, tbase).collect()
    }
    assert got == {0, 1, 2, 99, 4, 5, 6, 7, 8, 9}


def test_merge_guards(spark, tmp_path):
    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"]
    )
    with pytest.raises(ValueError, match="stats column"):
        merge_manifest_table(
            spark,
            spark.createDataFrame([(1, 2)], "id long, v long"),
            base,
            "v",
        )
    with pytest.raises(ValueError, match="NULL"):
        merge_manifest_table(
            spark,
            spark.createDataFrame([(None, 2)], "id long, v long"),
            base,
            "id",
        )


def test_compact_preserves_content_and_shrinks(spark, tmp_path):
    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.range(0, 500).select(F.col("id"), F.col("id").alias("v")),
        base,
        stats_cols=["id"],
        cluster_by="id",
        n_files=6,
    )
    before = _content(spark, base)
    v = compact_manifest_table(spark, base, small_bytes=1 << 30, target_bytes=1 << 30)
    assert v == 1
    assert len(manifest_file_paths(spark, base)) == 1
    assert _content(spark, base) == before
    # nothing small enough left (single big file) -> no-op, no commit
    assert (
        compact_manifest_table(spark, base, small_bytes=1, target_bytes=1 << 30)
        is None
    )
    assert read_manifest_version(spark, base) == 1


def test_time_travel_and_retention(spark, tmp_path):
    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=2
    )
    append_manifest_table(spark, _mk(spark, [(2, 2)]), base, keep=2)
    append_manifest_table(spark, _mk(spark, [(3, 3)]), base, keep=2)
    # keep=2: v0's marker+manifest pruned at the v2 commit
    assert _content(spark, base, version=1) == {(1, 1), (2, 2)}
    assert _content(spark, base) == {(1, 1), (2, 2), (3, 3)}
    with pytest.raises(FileNotFoundError, match="not committed"):
        read_manifest_table(spark, base, version=0)


def test_vacuum_deletes_only_unreferenced(spark, tmp_path):
    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.range(0, 100).select(F.col("id"), F.col("id").alias("v")),
        base,
        stats_cols=["id"],
        cluster_by="id",
        n_files=4,
        keep=1,
    )
    # full-refresh commit supersedes ALL v0 files; keep=1 prunes v0's
    # metadata, leaving its data files unreferenced
    write_manifest_table(
        spark,
        spark.range(0, 50).select(F.col("id"), F.col("id").alias("v")),
        base,
        n_files=1,
        keep=1,
    )
    deleted = vacuum_manifest_table(spark, base)
    assert deleted == 4
    # the superseded commit's (token-named) data dir was emptied and swept:
    # only the live commit's dir remains under data/
    assert len(os.listdir(f"{base}/data")) == 1
    assert _content(spark, base) == {(i, i) for i in range(50)}
    # idempotent
    assert vacuum_manifest_table(spark, base) == 0


def test_manifest_table_ignores_foreign_files(spark, tmp_path):
    """Stray non-numeric entries matching a versioned prefix (editor
    backups, tmp dirs) are IGNORED by the head listing, by commits and
    their retention prune, and by vacuum: none of them raises out of a
    read or write, and none is deleted."""
    base = str(tmp_path / "t")
    write_manifest_table(spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"])
    foreign_files = ["_COMMIT_v1.bak", "_CLAIM_vx", "meta/v=x.json"]
    for name in foreign_files:
        open(os.path.join(base, name), "w").close()
    os.makedirs(os.path.join(base, "manifest", "v=tmp"))
    assert read_manifest_version(spark, base) == 0
    for i in range(1, 4):  # keep=1: each commit prunes the version before it
        assert write_manifest_table(spark, _mk(spark, [(i, i)]), base, keep=1) == i
    assert read_manifest_version(spark, base) == 3
    assert _content(spark, base) == {(3, 3)}
    assert sorted(n for n in os.listdir(base) if n.startswith("_COMMIT_v")) == [
        "_COMMIT_v1.bak",
        "_COMMIT_v3",
    ]
    assert vacuum_manifest_table(spark, base) > 0
    assert _content(spark, base) == {(3, 3)}
    for name in foreign_files:
        assert os.path.isfile(os.path.join(base, name))
    assert os.path.isdir(os.path.join(base, "manifest", "v=tmp"))


def test_crash_before_marker_is_invisible_then_superseded(spark, tmp_path):
    base = str(tmp_path / "t")
    write_manifest_table(spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"])
    # simulate a crash between data/manifest write and marker creation
    orphan = spark.createDataFrame([(77, 77)], "id long, v long")
    orphan.write.mode("overwrite").parquet(f"{base}/data/v=1")
    orphan.write.mode("overwrite").parquet(f"{base}/manifest/v=1")  # garbage
    assert read_manifest_version(spark, base) == 0
    assert _content(spark, base) == {(1, 1)}
    with pytest.raises(FileNotFoundError):
        read_manifest_table(spark, base, version=1)
    # the next commit IS version 1 and overwrites the orphans
    append_manifest_table(spark, _mk(spark, [(2, 2)]), base)
    assert read_manifest_version(spark, base) == 1
    assert _content(spark, base) == {(1, 1), (2, 2)}


def test_concurrent_writer_loses_loudly(spark, tmp_path):
    base = str(tmp_path / "t")
    write_manifest_table(spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"])
    # another writer committed v1 between our listing and our marker:
    # pre-create the marker; our create-new publish must fail, not clobber
    open(f"{base}/_COMMIT_v1", "w").close()
    with pytest.raises(Exception):
        append_manifest_table(spark, _mk(spark, [(2, 2)]), base)


def test_create_guards(spark, tmp_path):
    base = str(tmp_path / "t")
    with pytest.raises(ValueError, match="stats_cols"):
        write_manifest_table(spark, _mk(spark, [(1, 1)]), base)
    with pytest.raises(ValueError, match="non-orderable"):
        write_manifest_table(
            spark,
            spark.createDataFrame([([1, 2],)], "a array<int>"),
            base,
            stats_cols=["a"],
        )
    write_manifest_table(spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"])
    with pytest.raises(ValueError, match="fixed at table creation"):
        write_manifest_table(
            spark, _mk(spark, [(1, 1)]), base, stats_cols=["v"]
        )


def test_empty_table_reads_with_schema(spark, tmp_path):
    base = str(tmp_path / "t")
    write_manifest_table(spark, _mk(spark, []), base, stats_cols=["id"])
    got = read_manifest_table(spark, base)
    assert got.count() == 0
    assert got.columns == ["id", "v"]
    # merging inserts into an empty table works
    merge_manifest_table(
        spark,
        spark.createDataFrame([(1, 1, False)], "id long, v long, dead boolean"),
        base,
        "id",
        delete_col="dead",
    )
    assert _content(spark, base) == {(1, 1)}


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 100)),
        min_size=0,
        max_size=10,
        unique_by=lambda t: t[0],
    ),
    st.lists(
        st.one_of(
            st.tuples(
                st.just("merge"),
                st.lists(
                    st.tuples(
                        st.integers(0, 30), st.integers(0, 100), st.booleans()
                    ),
                    min_size=1,
                    max_size=6,
                    unique_by=lambda t: t[0],
                ),
            ),
            st.tuples(
                st.just("append"),
                st.lists(
                    st.tuples(st.integers(31, 60), st.integers(0, 100)),
                    min_size=1,
                    max_size=4,
                    unique_by=lambda t: t[0],
                ),
            ),
            st.tuples(st.just("compact"), st.just(None)),
            st.tuples(
                st.just("delete"),
                st.lists(
                    st.integers(0, 60), min_size=1, max_size=4, unique=True
                ),
            ),
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_manifest_sequence_matches_dict_model(
    spark_global, tmp_path_factory, initial, ops
):
    """Any create→{merge,append,compact,delete}* sequence: the head read
    equals a plain replay, at every step. Merges (keys 0..30) replay as a
    dict; appends (keys 31..60, disjoint from the merge range so no merge
    ever touches them) replay as a MULTISET — append is by-position, like
    parquet append: re-appending a key yields two rows, and the table must
    preserve both. Deletes (r08, any key) replay as key removal from BOTH
    models and run through deletion vectors — so the sequence also proves
    DV/merge/append/compact interleavings (a vectored file later merged or
    compacted must fold its vector, an appended key re-inserted after a
    delete must resurface)."""
    from collections import Counter

    spark = spark_global
    base = str(tmp_path_factory.mktemp("manseq") / "t")
    write_manifest_table(
        spark, _mk(spark, initial), base, stats_cols=["id"], keep=10
    )
    merged_model = dict(initial)
    appended_model: Counter = Counter()

    def expect():
        return Counter(merged_model.items()) + appended_model

    for kind, payload in ops:
        if kind == "merge":
            batch = spark.createDataFrame(
                payload, "id long, v long, dead boolean"
            )
            merge_manifest_table(spark, batch, base, "id", delete_col="dead")
            for k, v, dead in payload:
                if dead:
                    merged_model.pop(k, None)
                else:
                    merged_model[k] = v
        elif kind == "append":
            append_manifest_table(
                spark,
                spark.createDataFrame(payload, "id long, v long"),
                base,
                keep=10,
            )
            appended_model.update(payload)
        elif kind == "delete":
            from tibame_project_spark.sources.manifest import (
                delete_manifest_table,
            )

            delete_manifest_table(
                spark,
                spark.createDataFrame([(k,) for k in payload], "id long"),
                base,
                "id",
                keep=10,
            )
            condemned = set(payload)
            for k in condemned:
                merged_model.pop(k, None)
            appended_model = Counter(
                {
                    (k, v): c
                    for (k, v), c in appended_model.items()
                    if k not in condemned
                }
            )
        else:
            compact_manifest_table(
                spark, base, small_bytes=1 << 30, target_bytes=1 << 30, keep=10
            )
        got = Counter(
            (r["id"], r["v"])
            for r in read_manifest_table(spark, base).collect()
        )
        assert got == expect()
    vacuum_manifest_table(spark, base)  # never breaks retained reads
    got = Counter(
        (r["id"], r["v"]) for r in read_manifest_table(spark, base).collect()
    )
    assert got == expect()


def test_stream_cdc_apply_manifest_merges_and_survives_replay(spark, tmp_path):
    """The manifest-backed CDC sink: epoch 0 bootstraps the table
    (tombstones stripped), later epochs are file-skipping MERGE commits,
    a checkpointed re-run with no new files changes nothing, and the
    inline compaction cadence folds the per-epoch small files without
    changing content."""
    from tibame_project_spark.streaming.incremental import stream_cdc_apply_manifest

    src = tmp_path / "feed"
    base = str(tmp_path / "mantab")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, name string, v long, dead boolean"

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )

    def run(**kw):
        stream = spark.readStream.schema(schema).parquet(str(src))
        stream_cdc_apply_manifest(
            stream, base, "id", checkpoint=ckpt, delete_col="dead", **kw
        )

    def content():
        return sorted(
            tuple(r) for r in read_manifest_table(spark, base).collect()
        )

    land([(1, "a", 10, False), (2, "b", 20, False), (9, "z", 0, True)])
    run()
    assert content() == [(1, "a", 10), (2, "b", 20)]  # tombstone stripped
    land([(2, "B", 200, False), (3, "c", 30, False), (1, "a", 10, True)])
    run()
    expected = [(2, "B", 200), (3, "c", 30)]
    assert content() == expected
    run()  # checkpointed: no new files, nothing changes
    assert content() == expected
    # several more epochs, then an inline compaction epoch: files fold,
    # content identical
    land([(4, "d", 40, False)])
    run()
    land([(5, "e", 50, False)])
    run(compact_every=1)
    assert content() == expected + [(4, "d", 40), (5, "e", 50)]
    assert len(manifest_file_paths(spark, base)) == 1


def test_stream_cdc_apply_manifest_refuses_bootstrap_after_table_loss(
    spark, tmp_path
):
    """No crash state loses a manifest table, so a committed epoch that
    finds none means external loss (rm -rf, retention script):
    re-bootstrapping from one batch would silently drop every earlier
    key, and the sink must fail loudly instead."""
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from tibame_project_spark.streaming.incremental import stream_cdc_apply_manifest

    src = tmp_path / "feed"
    base = str(tmp_path / "lost")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, v long"

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        stream_cdc_apply_manifest(stream, base, "id", checkpoint=ckpt)

    land([(1, 10)])
    run()
    assert _content(spark, base) == {(1, 10)}
    shutil.rmtree(base)  # external loss after epoch 0
    land([(2, 20)])
    with pytest.raises(StreamingQueryException, match="refusing to bootstrap"):
        run()


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 100)),
        min_size=0,
        max_size=10,
        unique_by=lambda t: t[0],
    ),
    st.lists(
        st.one_of(
            st.tuples(
                st.just("merge"),
                st.lists(
                    st.tuples(
                        st.integers(0, 30), st.integers(0, 100), st.booleans()
                    ),
                    min_size=1,
                    max_size=6,
                    unique_by=lambda t: t[0],
                ),
            ),
            st.tuples(
                st.just("append"),
                st.lists(st.integers(0, 100), min_size=1, max_size=3),
            ),
            st.tuples(st.just("compact"), st.just(None)),
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_manifest_changes_matches_full_table_diff(
    spark_global, tmp_path_factory, initial, ops
):
    """The file-diff-based change feed equals snapshot_diff over the FULL
    old/new versions (modulo `same` rows, which the file diff proves
    without reading) for any merge/append/compact sequence — the claim
    that lets a 100 TB subscriber read only touched files. Append keys are
    made globally unique (key-diff semantics need key-unique tables)."""
    from tibame_project_spark.operators.corrections import snapshot_diff
    from tibame_project_spark.sources.manifest import manifest_changes

    spark = spark_global
    base = str(tmp_path_factory.mktemp("manchg") / "t")
    write_manifest_table(
        spark, _mk(spark, initial), base, stats_cols=["id"], keep=10
    )
    v0 = read_manifest_table(spark, base)
    for i, (kind, payload) in enumerate(ops):
        if kind == "merge":
            merge_manifest_table(
                spark,
                spark.createDataFrame(payload, "id long, v long, dead boolean"),
                base,
                "id",
                delete_col="dead",
                keep=10,
            )
        elif kind == "append":
            rows = [(31 + i * 10 + j, v) for j, v in enumerate(payload)]
            append_manifest_table(
                spark,
                spark.createDataFrame(rows, "id long, v long"),
                base,
                keep=10,
            )
        else:
            compact_manifest_table(
                spark, base, small_bytes=1 << 30, target_bytes=1 << 30, keep=10
            )
    head = read_manifest_table(spark, base)

    def feed(df):
        return {
            tuple(r)
            for r in df.filter(F.col("op") != "same")
            .select("id", "op", "old_v", "new_v")
            .collect()
        }

    incremental = feed(manifest_changes(spark, base, "id", from_version=0))
    full = feed(snapshot_diff(v0, head, "id"))
    assert incremental == full


def test_manifest_changes_apply_roundtrip_is_identity(spark, tmp_path):
    """derive→apply identity for the manifest tier: the file-diff change
    feed from v0→head, merged into a COPY of v0, reproduces the head —
    a subscriber that bootstrapped at v0 catches up from touched files
    only."""
    from tibame_project_spark.sources.manifest import manifest_changes

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(8)]), src,
        stats_cols=["id"], cluster_by="id", n_files=3, keep=10,
    )
    for batch in (
        [(2, 22, False), (9, 9, False)],
        [(0, 0, True), (9, 99, False)],
    ):
        merge_manifest_table(
            spark,
            spark.createDataFrame(batch, "id long, v long, dead boolean"),
            src,
            "id",
            delete_col="dead",
            keep=10,
        )
    write_manifest_table(
        spark,
        read_manifest_table(spark, src, version=0),
        dst,
        stats_cols=["id"],
        keep=10,
    )
    feed = (
        manifest_changes(spark, src, "id", from_version=0)
        .filter(F.col("op") != "same")
        .select(
            "id",
            F.col("new_v").alias("v"),
            (F.col("op") == "delete").alias("dead"),
        )
    )
    merge_manifest_table(spark, feed, dst, "id", delete_col="dead", keep=10)
    assert _content(spark, dst) == _content(spark, src)


def test_curate_corpus_tombstones_only_condemned_files(spark, tmp_path):
    """plans/curation over a manifest-backed documents corpus: exact-dup
    losers (appended high-id copies) and a benchmark-contaminated doc are
    tombstone-merged out; the files holding only clean low-id originals
    are carried forward verbatim; a second pass is a no-op fixpoint."""
    from tests.conftest import SF_DIR
    from tibame_project_spark.catalog import load
    from tibame_project_spark.plans.curation import curate_corpus

    base = str(tmp_path / "corpus")
    docs = load(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    n_docs = docs.count()
    write_manifest_table(
        spark, docs, base, stats_cols=["doc_id"], cluster_by="doc_id", n_files=6
    )
    # land exact copies of 20 docs under shifted-high ids (re-scrape twins)
    dupes = docs.orderBy("doc_id").limit(20).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    append_manifest_table(spark, dupes, base, cluster_by="doc_id", n_files=1)
    before = set(manifest_file_paths(spark, base))

    # benchmark shares text with exactly one ORIGINAL doc
    leak = docs.orderBy(F.desc("doc_id")).limit(1)
    leak_id = leak.first()["doc_id"]
    bench = leak.select(F.col("text").alias("bench_text"))

    version, n_tombs = curate_corpus(spark, base, benchmark=bench)
    assert version == 2 and n_tombs == 21  # 20 dup losers + 1 leak
    after = set(manifest_file_paths(spark, base))
    # low-id original files (no losers, no leak) carried forward verbatim
    assert before & after, "clean files must not be rewritten"
    got_ids = {
        r["doc_id"] for r in read_manifest_table(spark, base).collect()
    }
    assert got_ids == {
        r["doc_id"] for r in docs.collect() if r["doc_id"] != leak_id
    }
    assert len(got_ids) == n_docs - 1
    # fixpoint: nothing left to condemn, no commit
    assert curate_corpus(spark, base, benchmark=bench) == (None, 0)
    assert read_manifest_version(spark, base) == 2


def test_catalog_manifest_pipeline_over_orders(spark, tmp_path):
    """Real-table pipeline through the catalog surface: orders lands as a
    key-clustered manifest table, a priority-correction batch merges in
    rewriting only candidate files, and SQL-side plans read the result
    through read_manifest_table as a temp view with a pruned scan."""
    from tests.conftest import SF_DIR
    from tibame_project_spark.catalog import load

    base = str(tmp_path / "orders_m")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    write_manifest_table(
        spark, orders, base, stats_cols=["o_orderkey"], cluster_by="o_orderkey",
        n_files=8,
    )
    n = orders.count()
    lo_keys = orders.select(F.min("o_orderkey").alias("lo")).first()["lo"]
    batch = (
        orders.where(F.col("o_orderkey") <= lo_keys + 50)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("dead", F.lit(False))
    )
    before = set(manifest_file_paths(spark, base))
    merge_manifest_table(spark, batch, base, "o_orderkey", delete_col="dead")
    after = set(manifest_file_paths(spark, base))
    assert before & after, "low-key batch must leave high-key files untouched"
    assert read_manifest_table(spark, base).count() == n
    # pruned read: files that can hold the corrected keys only
    read_manifest_table(
        spark, base, prune=f"min_o_orderkey <= {lo_keys + 50}"
    ).createOrReplaceTempView("orders_mv")
    got = spark.sql(
        "SELECT count(*) AS n FROM orders_mv WHERE o_orderstatus = 'X'"
    ).first()["n"]
    want = batch.count()
    assert got == want


# ---------------------------------------------------------------------------
# deletion vectors (r08)
# ---------------------------------------------------------------------------

def _data_files(base):
    out = []
    droot = os.path.join(base, "data")
    for d in sorted(os.listdir(droot)):
        for f in sorted(os.listdir(os.path.join(droot, d))):
            if not f.startswith(("_", ".")):
                out.append((f"data/{d}/{f}",
                            os.path.getmtime(os.path.join(droot, d, f))))
    return out


def test_delete_writes_vectors_not_data(spark, tmp_path):
    """delete_manifest_table condemns rows with ZERO data-file writes:
    the physical file set (paths AND mtimes) is bit-identical before and
    after, only sidecars + manifest move; reads apply the vector."""
    from tibame_project_spark.sources.manifest import delete_manifest_table

    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.range(0, 100).select(F.col("id"), F.col("id").alias("v")),
        base, stats_cols=["id"], cluster_by="id", n_files=4,
    )
    files_before = _data_files(base)
    keys = spark.createDataFrame([(7,), (42,), (99,)], "id long")
    v = delete_manifest_table(spark, keys, base, "id")
    assert v == 1
    assert _data_files(base) == files_before  # zero rewrite
    assert _content(spark, base) == {(i, i) for i in range(100)} - {
        (7, 7), (42, 42), (99, 99)
    }
    # only files whose key range contains a condemned key carry a vector
    man = manifest_stats(spark, base)
    with_dv = {r["path"] for r in man.where("dv_path IS NOT NULL").collect()}
    assert 0 < len(with_dv) < len(man.collect()) + 1
    for r in man.collect():
        if r["path"] not in with_dv:
            assert not (r["min_id"] <= 7 <= r["max_id"]
                        or r["min_id"] <= 42 <= r["max_id"]
                        or r["min_id"] <= 99 <= r["max_id"])


def test_delete_unions_and_key_is_fixed(spark, tmp_path):
    """A second delete on an already-vectored file unions into a fresh
    complete sidecar (readers never chase generations); the DV key column
    is fixed at first use; deleting absent keys is a readable no-op."""
    from tibame_project_spark.sources.manifest import delete_manifest_table

    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.range(0, 50).select(F.col("id"), F.col("id").alias("v")),
        base, stats_cols=["id", "v"], cluster_by="id", n_files=2,
    )
    delete_manifest_table(spark, spark.createDataFrame([(3,)], "id long"), base, "id")
    delete_manifest_table(spark, spark.createDataFrame([(4,)], "id long"), base, "id")
    assert _content(spark, base) == {(i, i) for i in range(50)} - {(3, 3), (4, 4)}
    with pytest.raises(ValueError, match="fixed"):
        delete_manifest_table(
            spark, spark.createDataFrame([(5,)], "v long"), base, "v"
        )
    v = delete_manifest_table(
        spark, spark.createDataFrame([(12345,)], "id long"), base, "id"
    )
    assert v is not None
    assert _content(spark, base) == {(i, i) for i in range(50)} - {(3, 3), (4, 4)}


def test_merge_and_compact_fold_vectors(spark, tmp_path):
    """A merge touching a vectored file must not resurrect condemned rows
    and clears the vector for rewritten files; compaction folds vectors
    in and comes out vector-free with identical logical content."""
    from tibame_project_spark.sources.manifest import delete_manifest_table

    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.range(0, 60).select(F.col("id"), F.col("id").alias("v")),
        base, stats_cols=["id"], cluster_by="id", n_files=3,
    )
    delete_manifest_table(
        spark, spark.createDataFrame([(10,), (50,)], "id long"), base, "id"
    )
    # upsert id=11 (same file range as condemned 10): 10 must stay gone
    merge_manifest_table(
        spark,
        spark.createDataFrame([(11, 1111)], "id long, v long"),
        base, "id",
    )
    expect = {(i, i) for i in range(60)} - {(10, 10), (50, 50), (11, 11)} | {(11, 1111)}
    assert _content(spark, base) == expect
    v = compact_manifest_table(spark, base, small_bytes=1 << 30,
                               target_bytes=1 << 30)
    assert v is not None
    man = manifest_stats(spark, base)
    assert man.where("dv_path IS NOT NULL").count() == 0  # all folded
    assert _content(spark, base) == expect


def test_vacuum_sweeps_unreferenced_dv_dirs(spark, tmp_path):
    """Vacuum keeps sidecar dirs any retained manifest references and
    deletes the rest (after compaction ages the vectored versions out of
    retention)."""
    from tibame_project_spark.sources.manifest import delete_manifest_table

    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.range(0, 40).select(F.col("id"), F.col("id").alias("v")),
        base, stats_cols=["id"], cluster_by="id", n_files=2, keep=1,
    )
    delete_manifest_table(
        spark, spark.createDataFrame([(1,)], "id long"), base, "id", keep=1
    )
    dv_dir = [
        r["dv_path"] for r in manifest_stats(spark, base).collect()
        if r["dv_path"]
    ][0]
    assert os.path.isdir(os.path.join(base, dv_dir))
    # keep=1 retention: v1 is still the head -> its dv dir must survive
    assert vacuum_manifest_table(spark, base) == 0
    assert os.path.isdir(os.path.join(base, dv_dir))
    compact_manifest_table(
        spark, base, small_bytes=1 << 30, target_bytes=1 << 30, keep=1
    )
    n = vacuum_manifest_table(spark, base)
    assert n >= 1  # old data files and/or the now-unreferenced dv dir
    assert not os.path.isdir(os.path.join(base, dv_dir))
    assert _content(spark, base) == {(i, i) for i in range(40)} - {(1, 1)}


def test_manifest_changes_across_dv_commit(spark, tmp_path):
    """The change feed between a pre- and post-delete version: condemned
    rows surface as op='delete' (the (file, vector) pair is the diff
    unit), untouched files never read."""
    from tibame_project_spark.sources.manifest import (
        delete_manifest_table,
        manifest_changes,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.range(0, 30).select(F.col("id"), F.col("id").alias("v")),
        base, stats_cols=["id"], cluster_by="id", n_files=3,
    )
    delete_manifest_table(
        spark, spark.createDataFrame([(5,), (6,)], "id long"), base, "id"
    )
    feed = manifest_changes(spark, base, "id", from_version=0, to_version=1)
    ops = {(r["id"], r["op"]) for r in feed.where("op <> 'same'").collect()}
    assert ops == {(5, "delete"), (6, "delete")}


def test_curate_corpus_with_deletion_vectors(spark, tmp_path):
    """curate_corpus(use_deletion_vectors=True): the tombstone pass is a
    ZERO-rewrite commit (physical data files untouched), the read-back
    equals the merge-mode result, and a second pass is a fixpoint."""
    from tibame_project_spark.plans.curation import curate_corpus

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),   # dup loser
        (3, "completely different text here ok"),
        (4, "unique and untouched words right"),
    ]
    schema = "doc_id long, text string"
    dv_base, mg_base = str(tmp_path / "dv"), str(tmp_path / "mg")
    for b in (dv_base, mg_base):
        write_manifest_table(
            spark, spark.createDataFrame(rows, schema), b,
            stats_cols=["doc_id"], cluster_by="doc_id", n_files=2,
        )
    files_before = _data_files(dv_base)
    v, n = curate_corpus(spark, dv_base, use_deletion_vectors=True)
    assert v == 1 and n == 1
    assert _data_files(dv_base) == files_before  # zero rewrite
    curate_corpus(spark, mg_base)
    got_dv = {tuple(r) for r in read_manifest_table(spark, dv_base).collect()}
    got_mg = {tuple(r) for r in read_manifest_table(spark, mg_base).collect()}
    assert got_dv == got_mg == {r for r in map(tuple, rows) if r[0] != 2}
    v2, n2 = curate_corpus(spark, dv_base, use_deletion_vectors=True)
    assert (v2, n2) == (None, 0)  # fixpoint


def test_stream_cdc_apply_manifest_delete_via_dv(spark, tmp_path):
    """r08: the DV drain route — a delete-only epoch rewrites ZERO data
    files (vector sidecar + manifest only), a mixed epoch merges upserts
    and vectors deletes, the compaction cadence materializes the vectors,
    and a checkpointed replay with no new input changes nothing."""
    from tibame_project_spark.streaming.incremental import stream_cdc_apply_manifest

    src = tmp_path / "feed"
    base = str(tmp_path / "mantab")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, name string, v long, dead boolean"

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )

    def run(**kw):
        stream = spark.readStream.schema(schema).parquet(str(src))
        stream_cdc_apply_manifest(
            stream, base, "id", checkpoint=ckpt, delete_col="dead",
            delete_via_dv=True, **kw
        )

    def content():
        return sorted(
            tuple(r) for r in read_manifest_table(spark, base).collect()
        )

    land([(i, chr(97 + i), i * 10, False) for i in range(6)])

    with pytest.raises(ValueError, match="delete_col"):
        stream_cdc_apply_manifest(
            spark.readStream.schema(schema).parquet(str(src)),
            base, "id", checkpoint=ckpt, delete_via_dv=True,
        )

    run()  # bootstrap
    files_after_bootstrap = _data_files(base)
    # delete-only epoch: zero data-file writes
    land([(2, None, 0, True), (4, None, 0, True)])
    run()
    assert _data_files(base) == files_after_bootstrap
    assert content() == [(0, "a", 0), (1, "b", 10), (3, "d", 30), (5, "f", 50)]
    run()  # checkpointed replay: nothing changes
    assert content() == [(0, "a", 0), (1, "b", 10), (3, "d", 30), (5, "f", 50)]
    # mixed epoch: upsert 1, delete 5, insert 7 — then a compaction epoch
    land([(1, "B", 111, False), (5, None, 0, True), (7, "h", 70, False)])
    run()
    expected = [(0, "a", 0), (1, "B", 111), (3, "d", 30), (7, "h", 70)]
    assert content() == expected
    land([(8, "i", 80, False)])
    run(compact_every=1)
    assert content() == expected + [(8, "i", 80)]
    man = manifest_stats(spark, base)
    assert man.where("dv_path IS NOT NULL").count() == 0  # materialized


def test_dv_read_composes_with_stats_pruning(spark, tmp_path):
    """prune= and deletion vectors compose on one read: pruning shrinks
    the file set first, the vector anti-join applies to what remains —
    and the anti-join is a BROADCAST join in the physical plan (the
    condemned set never shuffles the table)."""
    from tibame_project_spark.sources.manifest import delete_manifest_table

    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.range(0, 400).select(F.col("id"), F.col("id").alias("v")),
        base, stats_cols=["id"], cluster_by="id", n_files=8,
    )
    delete_manifest_table(
        spark, spark.createDataFrame([(10,), (390,)], "id long"), base, "id"
    )
    got = read_manifest_table(spark, base, prune="max_id < 100")
    # prune keeps only low-range files; DV still removes 10 within them
    rows = {r["id"] for r in got.collect()}
    assert 10 not in rows and 0 in rows
    assert max(rows) < 100 or len(rows) > 0  # pruned superset semantics
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


# ---------------------------------------------------------------------------
# Bloom-filter file indexes (r08)
# ---------------------------------------------------------------------------

def test_bloom_point_lookup_skips_unclustered_files(spark, tmp_path):
    """Equality skipping where min/max is blind: the table is clustered on
    `ts` but probed on `uid` (high-cardinality, scattered) — the Bloom
    prune reads a strict subset of files and loses no rows; min/max alone
    keeps everything."""
    from tibame_project_spark.sources.manifest import bloom_prune_expr

    n = 4096
    df = spark.range(0, n).select(
        F.col("id").alias("ts"),
        # uid scatters over the ts-clustering (bit-reversed-ish)
        ((F.col("id") * 2654435761) % 100000).alias("uid"),
        F.col("id").alias("v"),
    )
    base = str(tmp_path / "t")
    write_manifest_table(
        spark, df, base, stats_cols=["ts", "uid"], cluster_by="ts",
        n_files=16, bloom_cols=["uid"], bloom_m=1 << 15, bloom_k=3,
    )
    probe = [r["uid"] for r in df.where("ts IN (17, 2345)").select("uid").collect()]
    expr = bloom_prune_expr(spark, base, "uid", probe)
    kept = manifest_file_paths(spark, base, prune=expr)
    assert 1 <= len(kept) <= 6  # skipped most of 16 files
    got = read_manifest_table(spark, base, prune=expr).where(
        F.col("uid").isin(probe)
    )
    want = read_manifest_table(spark, base).where(F.col("uid").isin(probe))
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
    # min/max on the scattered column keeps everything (the blind spot)
    mn = manifest_stats(spark, base).collect()
    lo, hi = min(probe), max(probe)
    minmax_kept = [
        r["path"] for r in mn if r["min_uid"] <= hi and r["max_uid"] >= lo
    ]
    assert len(minmax_kept) == 16


def test_bloom_follows_commits_and_guards(spark, tmp_path):
    """Appended and merge-written files get filters automatically (config
    travels in meta); bloom_cols are fixed at creation; probing an
    undeclared column raises; an empty probe list prunes everything."""
    from tibame_project_spark.sources.manifest import bloom_prune_expr

    base = str(tmp_path / "t")
    df = spark.range(0, 200).select(F.col("id"), (F.col("id") * 7).alias("v"))
    write_manifest_table(
        spark, df, base, stats_cols=["id"], cluster_by="id", n_files=2,
        bloom_cols=["v"], bloom_m=1 << 12, bloom_k=3,
    )
    append_manifest_table(
        spark,
        spark.range(200, 300).select(F.col("id"), (F.col("id") * 7).alias("v")),
        base, n_files=1,
    )
    merge_manifest_table(
        spark,
        spark.createDataFrame([(500, 3500)], "id long, v long"),
        base, "id",
    )
    man = manifest_stats(spark, base)
    assert man.where("bloom_v IS NULL").count() == 0  # every commit built one
    # probe an appended value and a merged value
    for val in (7 * 250, 3500):
        expr = bloom_prune_expr(spark, base, "v", [val])
        got = read_manifest_table(spark, base, prune=expr).where(
            F.col("v") == val
        )
        assert got.count() == 1
    with pytest.raises(ValueError, match="no Bloom filter"):
        bloom_prune_expr(spark, base, "id", [1])
    assert bloom_prune_expr(spark, base, "v", []) == "false"
    with pytest.raises(ValueError, match="fixed at table creation"):
        write_manifest_table(spark, df, base, bloom_cols=["id"])


def test_expectation_gate_blocks_commit(spark, tmp_path):
    """expect= rules gate commits: a violating batch raises BEFORE the
    marker, so the table never shows a bad version (a failed v0 leaves NO
    table; a failed merge leaves the head untouched), and the next clean
    commit simply supersedes the invisible partial files. Row-wise rules
    ride the write as observed metrics; unique() takes the scan path."""
    from tibame_project_spark.operators.expectations import not_null, unique
    from tibame_project_spark.sources.manifest import read_manifest_version

    base = str(tmp_path / "t")
    bad = spark.createDataFrame([(1, 10), (None, 20)], "id long, v long")
    with pytest.raises(ValueError, match="expectation gate failed"):
        write_manifest_table(
            spark, bad, base, stats_cols=["v"], expect=[not_null("id")]
        )
    assert read_manifest_version(spark, base) is None  # nothing published

    good = spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
    assert write_manifest_table(
        spark, good, base, stats_cols=["v"], expect=[not_null("id")]
    ) == 0
    assert _content(spark, base) == {(1, 10), (2, 20)}

    # merge gate: violating batch (non-key rule) -> head unchanged
    with pytest.raises(ValueError, match="expectation gate failed"):
        merge_manifest_table(
            spark,
            spark.createDataFrame([(None, 30)], "id long, v long"),
            base, "v", expect=[not_null("id")],
        )
    assert read_manifest_version(spark, base) == 0
    assert _content(spark, base) == {(1, 10), (2, 20)}

    # unique() rule: distinct aggregate -> pre-write scan path
    dup = spark.createDataFrame([(7, 30), (7, 40)], "id long, v long")
    with pytest.raises(ValueError, match="expectation gate failed"):
        append_manifest_table(spark, dup, base, expect=[unique("id")])
    assert _content(spark, base) == {(1, 10), (2, 20)}
    append_manifest_table(
        spark,
        spark.createDataFrame([(3, 30)], "id long, v long"),
        base, expect=[unique("id"), not_null("id")],
    )
    assert _content(spark, base) == {(1, 10), (2, 20), (3, 30)}


def test_manifest_table_stats_without_scanning(spark, tmp_path):
    """Scan-free ANALYZE: totals and global ranges fold straight out of
    the manifest and track commits (append adds, merge/delete move the
    physical file set), with DV'd files surfaced as a tightness signal."""
    from tibame_project_spark.sources.manifest import (
        delete_manifest_table,
        manifest_table_stats,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.range(0, 300).select(F.col("id"), (F.col("id") * 3).alias("v")),
        base, stats_cols=["id"], cluster_by="id", n_files=3,
    )
    s = manifest_table_stats(spark, base)
    assert (s["rowCount"], s["numFiles"], s["n_dv_files"]) == (300, 3, 0)
    assert (s["min_id"], s["max_id"]) == (0, 299)
    assert s["sizeInBytes"] > 0

    append_manifest_table(
        spark,
        spark.range(300, 400).select(F.col("id"), (F.col("id") * 3).alias("v")),
        base, n_files=1,
    )
    s = manifest_table_stats(spark, base)
    assert (s["rowCount"], s["numFiles"], s["max_id"]) == (400, 4, 399)

    delete_manifest_table(
        spark, spark.createDataFrame([(5,)], "id long"), base, "id"
    )
    s = manifest_table_stats(spark, base)
    # physical rows unchanged (DV, zero rewrite); the vector is surfaced
    assert s["rowCount"] == 400 and s["n_dv_files"] == 1


def test_manifest_table_stats_folds_in_arrow_with_spark_order(
    spark, tmp_path, spark_jobs
):
    """The table-level fold runs no Spark job and returns what a Spark
    aggregate over the same manifest returns, value for value and type
    for type — on long, double, string, date, decimal and timestamp
    stats with null counts, after a DV delete, and on an empty table.
    NaN orders above every double: one file's NaN max makes the global
    max NaN while the min skips it, and only an all-NaN column makes the
    min NaN too."""
    import datetime
    import decimal
    import math

    from tibame_project_spark.sources.manifest import (
        delete_manifest_table,
        manifest_table_stats,
    )

    schema = "id long, x double, s string, d date, m decimal(10,2), ts timestamp"
    cols = ["id", "x", "s", "d", "m", "ts"]

    def rows(ids, xs):
        return [
            (
                i, x, f"s{i}", datetime.date(2024, 1, 1 + i),
                decimal.Decimal(i) / 4, datetime.datetime(2024, 2, 1, i),
            )
            for i, x in zip(ids, xs)
        ]

    def by_spark(base):  # the aggregate the Arrow fold must equal
        man = manifest_stats(spark, base)
        aggs = [
            F.coalesce(F.sum("rows"), F.lit(0)).alias("rowCount"),
            F.coalesce(F.sum("bytes"), F.lit(0)).alias("sizeInBytes"),
            F.count(F.lit(1)).alias("numFiles"),
            F.count(F.when(F.col("dv_path").isNotNull(), 1)).alias("n_dv_files"),
        ]
        for c in cols:
            aggs += [
                F.min(f"min_{c}").alias(f"min_{c}"),
                F.max(f"max_{c}").alias(f"max_{c}"),
                F.coalesce(F.sum(f"nulls_{c}"), F.lit(0)).alias(f"nulls_{c}"),
            ]
        return man.agg(*aggs).first().asDict()

    def same(got, want):
        def norm(d):
            return {
                k: "NaN" if isinstance(v, float) and math.isnan(v) else (type(v), v)
                for k, v in d.items()
            }
        assert list(got) == list(want)
        assert norm(got) == norm(want)

    nan = float("nan")
    mixed = str(tmp_path / "mixed")
    write_manifest_table(
        spark, spark.createDataFrame(rows([0, 1, 2], [1.5, -2.0, None]), schema),
        mixed, stats_cols=cols, null_stats=True,
    )
    for ids, xs in (([3, 4], [nan, 9.0]), ([5, 6], [nan, nan])):
        append_manifest_table(
            spark, spark.createDataFrame(rows(ids, xs), schema), mixed
        )
    delete_manifest_table(
        spark, spark.createDataFrame([(1,)], "id long"), mixed, "id"
    )
    all_nan = str(tmp_path / "all_nan")
    write_manifest_table(
        spark, spark.createDataFrame(rows([0, 1], [nan, nan]), schema),
        all_nan, stats_cols=cols, null_stats=True,
    )
    empty = str(tmp_path / "empty")
    write_manifest_table(
        spark, spark.createDataFrame([], schema), empty, stats_cols=cols,
        null_stats=True,
    )
    for base in (mixed, all_nan, empty):
        with spark_jobs() as jobs:
            got = manifest_table_stats(spark, base)
            assert jobs() == 0
        same(got, by_spark(base))
    got = manifest_table_stats(spark, mixed)
    assert math.isnan(got["max_x"]) and got["min_x"] == -2.0
    assert (got["n_dv_files"], got["rowCount"], got["nulls_x"]) == (1, 7, 1)
    got = manifest_table_stats(spark, all_nan)
    assert math.isnan(got["min_x"]) and math.isnan(got["max_x"])
    assert manifest_table_stats(spark, empty)["rowCount"] == 0


def test_restore_is_metadata_only_rollback(spark, tmp_path):
    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.range(0, 100).select(F.col("id"), F.col("id").alias("v")),
        base,
        stats_cols=["id"],
        cluster_by="id",
        n_files=4,
        keep=10,
    )
    v0_paths = set(manifest_file_paths(spark, base, version=0))
    merge_manifest_table(
        spark,
        spark.createDataFrame([(5, 500), (200, 200)], "id long, v long"),
        base,
        "id",
        keep=10,
    )
    assert _content(spark, base) != _content(spark, base, version=0)
    v2 = restore_manifest_table(spark, base, 0, keep=10)
    assert v2 == 2 and read_manifest_version(spark, base) == 2
    # content rolled back; the bad commit stays readable history
    assert _content(spark, base) == _content(spark, base, version=0)
    assert (5, 500) in _content(spark, base, version=1)
    # pure metadata: the restore commit added no data directory and the
    # head manifest references exactly v0's files
    assert len(os.listdir(f"{base}/data")) == 2  # v0 create + merge only
    assert set(manifest_file_paths(spark, base)) == v0_paths
    # restoring the current head is the idempotent no-op republish
    restore_manifest_table(spark, base, 2, keep=10)
    assert _content(spark, base) == _content(spark, base, version=0)
    with pytest.raises(FileNotFoundError, match="not committed"):
        restore_manifest_table(spark, base, 99, keep=10)


def test_restore_protects_files_from_vacuum(spark, tmp_path):
    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.range(0, 80).select(F.col("id"), F.col("id").alias("v")),
        base,
        stats_cols=["id"],
        cluster_by="id",
        n_files=4,
        keep=2,
    )
    # v1: full overwrite that references NONE of v0's files
    write_manifest_table(
        spark,
        spark.range(0, 10).select(F.col("id"), F.col("id").alias("v")),
        base,
        n_files=1,
        keep=2,
    )
    # v2 restores v0 with keep=1 → v0's and v1's METADATA prune, but v0's
    # data files stay referenced by the new head; v1's file is orphaned
    restore_manifest_table(spark, base, 0, keep=1)
    assert vacuum_manifest_table(spark, base) == 1  # only v1's single file
    assert _content(spark, base) == {(i, i) for i in range(80)}


def test_manifest_feed_bootstrap_tail_replay_and_guards(spark, tmp_path):
    from tibame_project_spark.sources.manifest import (
        delete_manifest_table,
        manifest_feed,
        manifest_feed_commit,
    )

    base = str(tmp_path / "t")
    state = str(tmp_path / "cursor.json")
    write_manifest_table(
        spark, _mk(spark, [(1, 1), (2, 2)]), base, stats_cols=["id"], keep=10
    )
    # fresh cursor bootstraps the full table as inserts
    feed, head = manifest_feed(spark, base, "id", state_path=state)
    assert head == 0
    assert feed.columns == ["id", "op", "old_v", "new_v"]
    assert {(r["id"], r["op"], r["old_v"], r["new_v"]) for r in feed.collect()} == {
        (1, "insert", None, 1),
        (2, "insert", None, 2),
    }
    manifest_feed_commit(spark, state, head)

    merge_manifest_table(
        spark, _mk(spark, [(2, 20), (3, 3)]), base, "id", keep=10
    )
    feed, head = manifest_feed(spark, base, "id", state_path=state)
    assert head == 1
    got = {(r["id"], r["op"], r["old_v"], r["new_v"]) for r in feed.collect()}
    assert got == {(2, "update", 2, 20), (3, "insert", None, 3)}
    # at-least-once: an uncommitted cursor replays the same interval
    replay, again = manifest_feed(spark, base, "id", state_path=state)
    assert again == 1
    assert {
        (r["id"], r["op"], r["old_v"], r["new_v"]) for r in replay.collect()
    } == got
    manifest_feed_commit(spark, state, head)

    # caught up: empty feed, right schema, cursor unchanged
    feed, head = manifest_feed(spark, base, "id", state_path=state)
    assert head == 1 and feed.count() == 0
    assert feed.columns == ["id", "op", "old_v", "new_v"]

    # a deletion-vector commit surfaces as delete ops
    delete_manifest_table(
        spark, _mk(spark, [(1, 1)]).select("id"), base, "id", keep=10
    )
    feed, head = manifest_feed(spark, base, "id", state_path=state)
    assert head == 2
    assert {(r["id"], r["op"]) for r in feed.collect()} == {(1, "delete")}
    manifest_feed_commit(spark, state, head)

    # a foreign/ahead cursor is a loud error, not silent data loss
    manifest_feed_commit(spark, state, 99)
    with pytest.raises(ValueError, match="ahead of table head"):
        manifest_feed(spark, base, "id", state_path=state)


def test_manifest_feed_cursor_past_retention_raises(spark, tmp_path):
    from tibame_project_spark.sources.manifest import (
        manifest_feed,
        manifest_feed_commit,
    )

    base = str(tmp_path / "t")
    state = str(tmp_path / "cursor.json")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=1
    )
    manifest_feed_commit(spark, state, 0)
    append_manifest_table(spark, _mk(spark, [(2, 2)]), base, keep=1)
    append_manifest_table(spark, _mk(spark, [(3, 3)]), base, keep=1)
    # keep=1 pruned v0's manifest at the v2 commit — the lagging consumer
    # cannot silently skip the gap
    with pytest.raises(FileNotFoundError, match="pruned past retention"):
        manifest_feed(spark, base, "id", state_path=state)


def test_manifest_history_records_ops_and_totals(spark, tmp_path):
    from tibame_project_spark.sources.manifest import (
        delete_manifest_table,
        manifest_history,
        restore_manifest_table,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(6)]), base,
        stats_cols=["id"], cluster_by="id", n_files=2, keep=10,
    )
    append_manifest_table(spark, _mk(spark, [(10, 10)]), base, keep=10)
    merge_manifest_table(
        spark, _mk(spark, [(1, 111)]), base, "id", keep=10
    )
    delete_manifest_table(
        spark, _mk(spark, [(2, 2)]).select("id"), base, "id", keep=10
    )
    compact_manifest_table(spark, base, small_bytes=1 << 30, keep=10)
    restore_manifest_table(spark, base, 2, keep=10)
    hist = {r["version"]: r for r in manifest_history(spark, base).collect()}
    assert [hist[v]["op"] for v in sorted(hist)] == [
        "create", "append", "merge", "delete", "compact", "restore(v=2)",
    ]
    # totals come from the manifests: v1 added one file/row on top of v0;
    # the delete commit left rows/files unchanged but tagged a DV'd file;
    # the restore's totals equal the restored version's exactly
    assert hist[1]["files"] == hist[0]["files"] + 1
    assert hist[1]["rows"] == hist[0]["rows"] + 1
    assert hist[3]["dv_files"] == 1 and hist[2]["dv_files"] == 0
    assert (hist[5]["files"], hist[5]["rows"], hist[5]["bytes"]) == (
        hist[2]["files"], hist[2]["rows"], hist[2]["bytes"],
    )


def test_manifest_feed_consumers_are_independent(spark, tmp_path):
    """Two consumers with separate state paths tail the same table at
    their own pace: a lagging cursor still sees the interval a faster
    consumer has already drained (cursors are per-consumer state, the
    table keeps no subscriber registry)."""
    from tibame_project_spark.sources.manifest import (
        manifest_feed,
        manifest_feed_commit,
    )

    base = str(tmp_path / "t")
    s1, s2 = str(tmp_path / "c1.json"), str(tmp_path / "c2.json")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=10
    )
    for s in (s1, s2):
        _, head = manifest_feed(spark, base, "id", state_path=s)
        manifest_feed_commit(spark, s, head)
    append_manifest_table(spark, _mk(spark, [(2, 2)]), base, keep=10)
    # consumer 1 drains the interval and advances
    f1, h1 = manifest_feed(spark, base, "id", state_path=s1)
    assert {(r["id"], r["op"]) for r in f1.collect()} == {(2, "insert")}
    manifest_feed_commit(spark, s1, h1)
    assert manifest_feed(spark, base, "id", state_path=s1)[0].count() == 0
    # consumer 2 still gets the same interval afterwards
    f2, _ = manifest_feed(spark, base, "id", state_path=s2)
    assert {(r["id"], r["op"]) for r in f2.collect()} == {(2, "insert")}


def test_delete_repoints_only_files_with_condemned_rows(spark, tmp_path):
    """A min/max-range candidate file that turns out to hold NONE of the
    delete batch's keys (and carried no prior vector) keeps dv_path NULL —
    it must not take the DV anti-join read path forever or inflate
    n_dv_files (r08 advice)."""
    from tibame_project_spark.sources.manifest import (
        delete_manifest_table,
        manifest_table_stats,
    )

    base = str(tmp_path / "t")
    # two clustered files: ids 0..9 and 10..19 WITHOUT 15 — so deleting
    # {3, 15} makes both files range-candidates but only the first holds
    # a condemned row
    rows = [(i, i) for i in range(20) if i != 15]
    write_manifest_table(
        spark, _mk(spark, rows), base, stats_cols=["id"],
        cluster_by="id", n_files=2,
    )
    delete_manifest_table(
        spark, spark.createDataFrame([(3,), (15,)], "id long"), base, "id"
    )
    man = manifest_stats(spark, base).collect()
    dvd = [r for r in man if r["dv_path"]]
    assert len(dvd) == 1 and dvd[0]["min_id"] <= 3 <= dvd[0]["max_id"]
    assert manifest_table_stats(spark, base)["n_dv_files"] == 1
    assert _content(spark, base) == {t for t in rows if t[0] != 3}

    # an all-miss delete (in-range gaps only) is a pure-metadata no-op:
    # no file gains a vector
    delete_manifest_table(
        spark, spark.createDataFrame([(15,)], "id long"), base, "id"
    )
    assert manifest_table_stats(spark, base)["n_dv_files"] == 1


def test_manifest_feed_from_version_overrides_cursor(spark, tmp_path):
    """from_version= beats the persisted cursor: a consumer that stamps
    its durable output with the applied head can skip an interval whose
    apply survived a crash-before-cursor-commit (the non-fixpoint-sink
    replay guard), and the usual guards still hold."""
    from tibame_project_spark.sources.manifest import (
        manifest_feed,
        manifest_feed_commit,
    )

    base = str(tmp_path / "t")
    state = str(tmp_path / "cursor.json")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(10)]), base,
        stats_cols=["id"], cluster_by="id", n_files=2, keep=10,
    )
    boot, head = manifest_feed(spark, base, "id", state_path=state)
    assert boot.count() == 10 and head == 0
    manifest_feed_commit(spark, state, head)

    merge_manifest_table(
        spark,
        spark.createDataFrame([(3, 999, False)], "id long, v long, dead boolean"),
        base, "id", delete_col="dead", keep=10,
    )
    # consumer applied the 0→1 interval and stamped head=1, but CRASHED
    # before manifest_feed_commit — the cursor still says 0
    changes, head = manifest_feed(spark, base, "id", state_path=state)
    assert head == 1 and changes.count() == 1
    # restart with the stamp: the already-applied interval is NOT replayed
    replay, head2 = manifest_feed(
        spark, base, "id", state_path=state, from_version=1
    )
    assert head2 == 1 and replay.count() == 0
    # stamp ahead of head / pruned stamp still raise loudly
    with pytest.raises(ValueError, match="ahead"):
        manifest_feed(spark, base, "id", state_path=state, from_version=5)


def _race(monkeypatch, fn):
    """Arm the commit-race seam: fn() runs as a CONCURRENT WRITER between
    the next operation's read phase and its publish."""
    import tibame_project_spark.sources.manifest as M

    monkeypatch.setattr(M, "_TEST_COMMIT_RACE_HOOK", fn)


def test_concurrent_appends_commute_no_lost_updates(spark, tmp_path, monkeypatch):
    """Two writers appending concurrently: the loser of the version race
    REBASES its metadata edit onto the winner's head — both batches land,
    nothing is lost, history shows both commits (the optimistic-
    concurrency contract, r08 verdict item 2)."""
    from tibame_project_spark.sources.manifest import manifest_history

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=10
    )
    _race(monkeypatch, lambda: append_manifest_table(
        spark, _mk(spark, [(2, 2)]), base, keep=10
    ))
    v = append_manifest_table(spark, _mk(spark, [(3, 3)]), base, keep=10)
    assert v == 2  # rebased onto the interloper's v1
    assert _content(spark, base) == {(1, 1), (2, 2), (3, 3)}
    ops = {r["version"]: r["op"] for r in manifest_history(spark, base).collect()}
    assert ops == {0: "create", 1: "append", 2: "append"}


def test_concurrent_merges_on_overlapping_ranges_conflict(spark, tmp_path, monkeypatch):
    """merge ∩ merge on intersecting key ranges must raise loudly — the
    loser's rewrite was derived from files the winner replaced; silently
    publishing it would lose the winner's update."""
    from tibame_project_spark.sources.manifest import ConcurrentCommitError

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(40)]), base,
        stats_cols=["id"], cluster_by="id", n_files=2, keep=10,
    )
    _race(monkeypatch, lambda: merge_manifest_table(
        spark, _mk(spark, [(5, 555)]), base, "id", keep=10
    ))
    with pytest.raises(ConcurrentCommitError, match="rewrote|overlapping"):
        merge_manifest_table(spark, _mk(spark, [(6, 666)]), base, "id", keep=10)
    # the winner's update survived; the loser published nothing
    assert _content(spark, base) == (
        {(i, i) for i in range(40)} - {(5, 5)}
    ) | {(5, 555)}


def test_merge_vs_append_conflicts_only_inside_key_range(spark, tmp_path, monkeypatch):
    """A concurrent append INTO a merge's key range conflicts (the merge
    must see every row of its keyspace — the ConcurrentAppend class); an
    append safely outside it rebases and both commits land."""
    from tibame_project_spark.sources.manifest import ConcurrentCommitError

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(20)]), base,
        stats_cols=["id"], cluster_by="id", n_files=2, keep=10,
    )
    # disjoint: append ids ≥ 1000 while merging ids ≤ 19 → both land
    _race(monkeypatch, lambda: append_manifest_table(
        spark, _mk(spark, [(1000, 1000)]), base, cluster_by="id", keep=10
    ))
    merge_manifest_table(spark, _mk(spark, [(3, 333)]), base, "id", keep=10)
    assert (1000, 1000) in _content(spark, base)
    assert (3, 333) in _content(spark, base)
    # overlapping: append a row inside the merge's key range [6, 9] —
    # the merge derived its candidate set without it → loud conflict
    _race(monkeypatch, lambda: append_manifest_table(
        spark, _mk(spark, [(7, 7777)]), base, cluster_by="id", keep=10
    ))
    with pytest.raises(ConcurrentCommitError, match="overlapping"):
        merge_manifest_table(
            spark, _mk(spark, [(6, 666), (9, 999)]), base, "id", keep=10
        )


def test_compact_conflicts_with_concurrent_dv_repoint(spark, tmp_path, monkeypatch):
    """Compaction folds small files with their vectors applied; a delete
    that repoints one of those files mid-compact invalidates the fold —
    must raise, never silently resurrect the newly condemned rows."""
    from tibame_project_spark.sources.manifest import (
        ConcurrentCommitError,
        delete_manifest_table,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(30)]), base,
        stats_cols=["id"], cluster_by="id", n_files=3, keep=10,
    )
    _race(monkeypatch, lambda: delete_manifest_table(
        spark, spark.createDataFrame([(2,)], "id long"), base, "id", keep=10
    ))
    with pytest.raises(ConcurrentCommitError, match="rewrote or\n?\\s*repointed"):
        compact_manifest_table(
            spark, base, small_bytes=1 << 30, target_bytes=1 << 30, keep=10
        )
    # the delete won and its vector is live
    assert (2, 2) not in _content(spark, base)


def test_exclusive_commits_refuse_any_concurrency(spark, tmp_path, monkeypatch):
    """Full refresh and restore replace the whole live set: any commit
    landing between their read and their publish is a conflict."""
    from tibame_project_spark.sources.manifest import ConcurrentCommitError

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=10
    )
    _race(monkeypatch, lambda: append_manifest_table(
        spark, _mk(spark, [(2, 2)]), base, keep=10
    ))
    with pytest.raises(ConcurrentCommitError, match="exclusive"):
        write_manifest_table(spark, _mk(spark, [(9, 9)]), base, keep=10)
    _race(monkeypatch, lambda: append_manifest_table(
        spark, _mk(spark, [(3, 3)]), base, keep=10
    ))
    with pytest.raises(ConcurrentCommitError, match="exclusive"):
        restore_manifest_table(spark, base, 0, keep=10)
    # the interlopers' appends all survived
    assert _content(spark, base) == {(1, 1), (2, 2), (3, 3)}


def test_stale_claim_blocks_then_recovers(spark, tmp_path, monkeypatch):
    """A claim whose commit never appears (writer crashed inside the
    metadata window) fails fast with the recovery hint; after
    recover_manifest_table the same commit succeeds."""
    import tibame_project_spark.sources.manifest as M
    from tibame_project_spark.sources.manifest import (
        ConcurrentCommitError,
        recover_manifest_table,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=10
    )
    open(f"{base}/_CLAIM_v1", "w").close()  # crashed writer's leftover
    monkeypatch.setattr(M, "_CLAIM_WAIT_S", 0.5)
    with pytest.raises(ConcurrentCommitError, match="recover_manifest_table"):
        append_manifest_table(spark, _mk(spark, [(2, 2)]), base, keep=10)
    assert recover_manifest_table(spark, base) == 1
    append_manifest_table(spark, _mk(spark, [(2, 2)]), base, keep=10)
    assert _content(spark, base) == {(1, 1), (2, 2)}
    # claims of COMMITTED versions are never "recovered"
    assert recover_manifest_table(spark, base) == 0


def test_evolution_widen_rename_reads_merge_across_boundary(spark, tmp_path):
    """Type widening + column rename as metadata-only commits: old files
    keep their physical schema and every read lifts them by field id.
    The journey: int/float table → DV delete (int-keyed sidecar) →
    widen id→bigint, score→double + rename score→val (zero data files
    touched) → append and MERGE in the new schema across the boundary →
    reads, prune, stats, and the change feed all speak the new schema
    exactly."""
    from tibame_project_spark.sources.manifest import (
        delete_manifest_table,
        evolve_manifest_table,
        manifest_changes,
        manifest_table_stats,
        read_manifest_table,
    )

    base = str(tmp_path / "t")
    rows = [(i, float(i) / 2) for i in range(40)]
    write_manifest_table(
        spark,
        spark.createDataFrame(rows, "id int, score float"),
        base, stats_cols=["id"], cluster_by="id", n_files=2, keep=10,
    )
    data_files = sorted(
        os.path.join(dp, f)
        for dp, _, fns in os.walk(f"{base}/data")
        for f in fns
        if not f.startswith(("_", "."))
    )
    # pre-evolution deletion vector: sidecar stores INT keys
    delete_manifest_table(
        spark, spark.createDataFrame([(7,)], "id int"), base, "id", keep=10
    )
    v = evolve_manifest_table(
        spark, base,
        rename={"score": "val"},
        widen={"id": "bigint", "score": "double"},
        keep=10,
    )
    assert v == 2
    # metadata-only: not a single data file changed
    assert sorted(
        os.path.join(dp, f)
        for dp, _, fns in os.walk(f"{base}/data")
        for f in fns
        if not f.startswith(("_", "."))
    ) == data_files
    got = read_manifest_table(spark, base)
    assert dict(got.dtypes) == {"id": "bigint", "val": "double"}
    want = {(i, float(i) / 2) for i in range(40) if i != 7}
    assert {(r["id"], r["val"]) for r in got.collect()} == want
    # stats columns follow the rename/widen: prune + table stats work
    pruned = read_manifest_table(spark, base, prune="max_id >= 30")
    assert {r["id"] for r in pruned.collect()} >= set(range(30, 40))
    st = manifest_table_stats(spark, base)
    assert st["min_id"] == 0 and st["max_id"] == 39

    # merge ACROSS the boundary in the new schema: update an old-era row,
    # tombstone another, insert past the old range — candidates are
    # old-schema files, lifted + rewritten under the current schema
    batch = spark.createDataFrame(
        [(3, 333.5, False), (5, 0.0, True), (100, 1.25, False)],
        "id long, val double, dead boolean",
    )
    merge_manifest_table(spark, batch, base, "id", delete_col="dead", keep=10)
    want = (want - {(3, 1.5), (5, 2.5)}) | {(3, 333.5), (100, 1.25)}
    assert {
        (r["id"], r["val"])
        for r in read_manifest_table(spark, base).collect()
    } == want
    # post-evolution DV delete (long-keyed sidecar) composes with reads
    delete_manifest_table(
        spark, spark.createDataFrame([(100,)], "id long"), base, "id", keep=10
    )
    want -= {(100, 1.25)}
    assert {
        (r["id"], r["val"])
        for r in read_manifest_table(spark, base).collect()
    } == want
    # change feed across the evolve boundary speaks the NEW schema
    ch = manifest_changes(spark, base, "id", from_version=1, to_version=4)
    assert {c for c in ch.columns} == {
        "id", "op", "old_val", "new_val"
    }
    ops = {(r["id"], r["op"]) for r in ch.where("op <> 'same'").collect()}
    assert (3, "update") in ops and (5, "delete") in ops
    # 100 was inserted AND deleted inside the interval: no net change row
    assert not any(i == 100 for i, _ in ops)
    # append in the new schema still validates against current names
    append_manifest_table(
        spark,
        spark.createDataFrame([(500, 9.75)], "id long, val double"),
        base, cluster_by="id", keep=10,
    )
    assert (500, 9.75) in {
        (r["id"], r["val"])
        for r in read_manifest_table(spark, base).collect()
    }


def test_compaction_consolidates_schema_eras(spark, tmp_path):
    """r10 verdict item 4: era growth must be boundable. Every evolve
    adds a schema era, and reads group files (and Bloom probes) per LIVE
    era — so a long-lived table needs OPTIMIZE to consolidate old-era
    files to the head schema. Compaction reads candidates through the
    era projection and stamps its output with the CURRENT schema_id, so
    a recluster pass (which rewrites every live file) must collapse the
    manifest to ONE era with byte-identical content; a plain small-file
    compact migrates exactly the files it folds."""
    import tibame_project_spark.sources.manifest as M
    from tibame_project_spark.sources.manifest import (
        evolve_manifest_table,
        read_manifest_table,
        read_manifest_version,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.createDataFrame([(i, i * 10) for i in range(20)],
                              "id int, price int"),
        base, stats_cols=["id"], cluster_by="id", n_files=2, keep=20,
    )
    evolve_manifest_table(
        spark, base, rename={"price": "amount"}, widen={"id": "bigint"},
        keep=20,
    )
    append_manifest_table(
        spark,
        spark.createDataFrame([(100 + i, 7) for i in range(4)],
                              "id long, amount int"),
        base, cluster_by="id", keep=20,
    )
    evolve_manifest_table(spark, base, widen={"amount": "bigint"}, keep=20)
    append_manifest_table(
        spark,
        spark.createDataFrame([(200, 5_000_000_000)], "id long, amount long"),
        base, cluster_by="id", keep=20,
    )

    def live_eras():
        head = read_manifest_version(spark, base)
        return {
            r["schema_id"]
            for r in spark.createDataFrame(M._load_manifest(spark, base, head))
            .select("schema_id").distinct().collect()
        }

    def content():
        return {
            (r["id"], r["amount"])
            for r in read_manifest_table(spark, base).collect()
        }

    want = (
        {(i, i * 10) for i in range(20)}
        | {(100 + i, 7) for i in range(4)}
        | {(200, 5_000_000_000)}
    )
    assert live_eras() == {0, 1, 2} and content() == want
    # OPTIMIZE ZORDER rewrites every live file → ONE era, same bytes
    assert compact_manifest_table(spark, base, recluster="id", keep=20)
    assert live_eras() == {2}, "recluster left old-era read branches live"
    assert content() == want
    got = read_manifest_table(spark, base)
    assert dict(got.dtypes) == {"id": "bigint", "amount": "bigint"}
    # plain small-file OPTIMIZE migrates the files it folds the same way:
    # evolve again, then compact (everything here is under small_bytes)
    evolve_manifest_table(spark, base, rename={"amount": "amt"}, keep=20)
    append_manifest_table(
        spark,
        spark.createDataFrame([(300, 1)], "id long, amt long"),
        base, cluster_by="id", keep=20,
    )
    assert compact_manifest_table(spark, base, keep=20)
    assert live_eras() == {3}, "compact left old-era read branches live"
    assert {
        (r["id"], r["amt"])
        for r in read_manifest_table(spark, base).collect()
    } == want | {(300, 1)}


def test_evolution_guards(spark, tmp_path):
    """Evolution rejects everything that would reinterpret history:
    narrowing / sideways casts, renames that collide, unknown columns,
    float→double on a Bloom column (its hash would change), and a no-op
    call."""
    from tibame_project_spark.sources.manifest import evolve_manifest_table

    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.createDataFrame(
            [(1, 1.0, 10)], "id int, score float, grp int"
        ),
        base, stats_cols=["id"], bloom_cols=["grp"], keep=10,
    )
    with pytest.raises(ValueError, match="nothing to do"):
        evolve_manifest_table(spark, base)
    with pytest.raises(ValueError, match="no such column"):
        evolve_manifest_table(spark, base, rename={"nope": "x"})
    with pytest.raises(ValueError, match="duplicate"):
        evolve_manifest_table(spark, base, rename={"score": "id"})
    with pytest.raises(ValueError, match="cannot widen"):
        evolve_manifest_table(spark, base, widen={"id": "int"})  # no-op cast
    with pytest.raises(ValueError, match="cannot widen"):
        evolve_manifest_table(spark, base, widen={"score": "bigint"})
    # widening a Bloom column stays exact: probes branch on schema era
    # (xxhash64 of int vs long differ — each file is probed with values
    # hashed as the type it was written under)
    from tibame_project_spark.sources.manifest import (
        bloom_prune_expr,
        manifest_file_paths,
    )
    evolve_manifest_table(spark, base, widen={"grp": "bigint"}, keep=10)
    # old-era file still hit by its int-hash probe...
    expr = bloom_prune_expr(spark, base, "grp", [10])
    assert "schema_id" not in expr or manifest_file_paths(
        spark, base, prune=expr
    )
    assert manifest_file_paths(spark, base, prune=expr)
    # ...and a miss still skips (no file holds grp=99)
    miss = bloom_prune_expr(spark, base, "grp", [99])
    assert manifest_file_paths(spark, base, prune=miss) == []
    # post-evolution append (long era) is probed with the long hash
    append_manifest_table(
        spark,
        spark.createDataFrame([(2, 2.0, 77)], "id int, score float, grp long"),
        base, keep=10,
    )
    expr2 = bloom_prune_expr(spark, base, "grp", [77])
    assert "schema_id IN" in expr2
    hit = manifest_file_paths(spark, base, prune=expr2)
    assert len(hit) == 1


def test_recluster_recovers_zorder_skip_ratio(spark, tmp_path):
    """OPTIMIZE ZORDER (r08 verdict item 6): a table whose ingest order
    decayed its clustering — unclustered appends spanning the whole
    keyspace — recovers the freshly-written conjunctive-box skip ratio
    after ``compact_manifest_table(recluster=["x","y"])``, with content
    bit-identical and the pass recorded as its own history op."""
    from tibame_project_spark.sources.manifest import manifest_history

    side = 128

    def grid(part):
        return spark.range(0, side * side).where(
            F.col("id") % 4 == part
        ).select(
            (F.col("id") % side).alias("x"),
            (F.col("id") / side).cast("long").alias("y"),
        )

    base = str(tmp_path / "t")
    # v0 Morton-clustered; then 3 UNCLUSTERED appends, each spanning the
    # full x/y range → every appended file covers the whole box space
    write_manifest_table(
        spark, grid(0), base, stats_cols=["x", "y"], cluster_by=["x", "y"],
        n_files=16, zorder_bits=7, keep=10,
    )
    for part in (1, 2, 3):
        append_manifest_table(spark, grid(part), base, n_files=4, keep=10)
    box = "min_x <= 15 AND max_x >= 8 AND min_y <= 23 AND max_y >= 16"
    decayed = len(manifest_file_paths(spark, base, prune=box))
    n_total = len(manifest_file_paths(spark, base))
    assert decayed >= 12  # every unclustered file survives the box prune

    before = {
        (r["x"], r["y"])
        for r in read_manifest_table(spark, base).collect()
    }
    # size the target so the rewrite lands ~16 files regardless of
    # parquet-encoding byte drift (n_out = ceil(total/target))
    from tibame_project_spark.sources.manifest import manifest_table_stats

    total_bytes = manifest_table_stats(spark, base)["sizeInBytes"]
    v = compact_manifest_table(
        spark, base, target_bytes=max(1, total_bytes // 16), keep=10,
        recluster=["x", "y"], zorder_bits=7,
    )
    assert v is not None
    # content bit-identical
    assert {
        (r["x"], r["y"]) for r in read_manifest_table(spark, base).collect()
    } == before
    recovered = len(manifest_file_paths(spark, base, prune=box))
    n_after = len(manifest_file_paths(spark, base))
    # the box now sits in a few Morton hyper-rectangles again: strictly
    # better than decayed, and proportionally at the fresh-write level
    assert recovered < decayed
    assert recovered / n_after <= 6 / 16
    got = read_manifest_table(spark, base, prune=box).where(
        "x BETWEEN 8 AND 15 AND y BETWEEN 16 AND 23"
    )
    assert got.count() == 8 * 8  # pruning lost no rows
    ops = [r["op"] for r in manifest_history(spark, base).collect()]
    assert ops[-1] == "recluster"


def test_replicate_manifest_feed_epochs_and_crash_resume(spark, tmp_path):
    """Produce→consume under streaming epoch semantics (r08 verdict item
    7): a consumer drains the manifest feed one producer COMMIT per
    epoch into an independent manifest table; a crash between an epoch's
    apply and its cursor commit replays the interval as a merge fixpoint
    — the replica matches the source exactly, no gaps, no dupes."""
    from tibame_project_spark.sources.manifest import (
        delete_manifest_table,
        manifest_feed,
        manifest_feed_commit,
        manifest_history,
    )
    from tibame_project_spark.streaming.incremental import (
        replicate_manifest_table,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    state = str(tmp_path / "cursor.json")

    def content(base):
        return {
            (r["id"], r["v"])
            for r in read_manifest_table(spark, base).collect()
        }

    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(30)]), src,
        stats_cols=["id"], cluster_by="id", n_files=2, keep=10,
    )
    # bootstrap epoch: initial snapshot at head
    assert replicate_manifest_table(
        spark, src, dst, "id", state_path=state, keep=10
    ) == 1
    assert content(dst) == content(src)

    # two producer commits → two consumer epochs (per-commit grain)
    merge_manifest_table(
        spark,
        spark.createDataFrame(
            [(3, 333, False), (100, 100, False), (5, 0, True)],
            "id long, v long, dead boolean",
        ),
        src, "id", delete_col="dead", keep=10,
    )
    delete_manifest_table(
        spark, spark.createDataFrame([(10,)], "id long"), src, "id", keep=10
    )
    assert replicate_manifest_table(
        spark, src, dst, "id", state_path=state, keep=10
    ) == 2
    assert content(dst) == content(src)

    # crash between apply and cursor commit: run one epoch's apply by
    # hand (the same merge the consumer does), do NOT advance the cursor,
    # then let the consumer resume — the replayed epoch is a fixpoint
    merge_manifest_table(
        spark,
        spark.createDataFrame([(7, 777, False)], "id long, v long, dead boolean"),
        src, "id", delete_col="dead", keep=10,
    )
    changes, head = manifest_feed(spark, src, "id", state_path=state)
    ups = changes.where("op <> 'delete'").select(
        "id", F.col("new_v").alias("v"), F.lit(False).alias("__dead")
    )
    merge_manifest_table(spark, ups, dst, "id", delete_col="__dead", keep=10)
    # ... crash here: cursor still points at the previous epoch
    assert replicate_manifest_table(
        spark, src, dst, "id", state_path=state, keep=10
    ) == 1  # the replayed epoch, then caught up
    assert content(dst) == content(src)
    # caught-up drain is a no-op
    assert replicate_manifest_table(
        spark, src, dst, "id", state_path=state, keep=10
    ) == 0
    # a committed cursor with a lost destination refuses to re-bootstrap
    import shutil

    shutil.rmtree(dst)
    merge_manifest_table(
        spark,
        spark.createDataFrame([(8, 888, False)], "id long, v long, dead boolean"),
        src, "id", delete_col="dead", keep=10,
    )
    with pytest.raises(RuntimeError, match="refusing to bootstrap"):
        replicate_manifest_table(
            spark, src, dst, "id", state_path=state, keep=10
        )


def test_vacuum_min_age_spares_young_files(spark, tmp_path):
    """vacuum(min_age_s=...) is the Delta RETAIN window: unreferenced
    files younger than the threshold survive (so a vacuum racing a
    writer whose commit window is shorter than the threshold can never
    eat a mid-flight commit); an aged-out sweep still reclaims them."""
    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.range(0, 40).select(F.col("id"), F.col("id").alias("v")),
        base, stats_cols=["id"], cluster_by="id", n_files=4, keep=1,
    )
    write_manifest_table(
        spark,
        spark.range(0, 20).select(F.col("id"), F.col("id").alias("v")),
        base, n_files=1, keep=1,
    )
    # every superseded file was written seconds ago → a 1-hour window
    # spares all of them
    assert vacuum_manifest_table(spark, base, min_age_s=3600) == 0
    assert _content(spark, base) == {(i, i) for i in range(20)}
    # age floor in the past (0 s) → normal sweep
    assert vacuum_manifest_table(spark, base, min_age_s=0) == 4
    assert _content(spark, base) == {(i, i) for i in range(20)}


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 100)),
        min_size=1,
        max_size=6,
        unique_by=lambda t: t[0],
    ),
    st.lists(
        st.tuples(
            st.one_of(
                st.tuples(
                    st.just("merge"),
                    st.lists(
                        st.tuples(
                            st.integers(0, 30), st.integers(0, 100),
                            st.booleans(),
                        ),
                        min_size=1,
                        max_size=4,
                        unique_by=lambda t: t[0],
                    ),
                ),
                st.tuples(
                    st.just("append"),
                    st.lists(
                        st.tuples(st.integers(31, 60), st.integers(0, 100)),
                        min_size=1,
                        max_size=3,
                        unique_by=lambda t: t[0],
                    ),
                ),
                st.tuples(st.just("compact"), st.just(None)),
            ),
            # optional RACER: a concurrent append on a disjoint keyspace
            # (100..130) injected between the op's read and its publish
            st.one_of(
                st.none(),
                st.lists(
                    st.tuples(st.integers(100, 130), st.integers(0, 100)),
                    min_size=1,
                    max_size=2,
                    unique_by=lambda t: t[0],
                ),
            ),
        ),
        min_size=1,
        max_size=3,
    ),
)
def test_model_replay_with_racing_appends_loses_nothing(
    spark_global, tmp_path_factory, initial, ops
):
    """The verdict's no-lost-updates model replay, under CONCURRENCY:
    every operation may race a concurrent append (disjoint keyspace, so
    the CAS rebase path — not the conflict path — is exercised), and at
    every step the table equals the model that applied the racer FIRST
    (it wins the version race by construction) and the operation second.
    Merges replay as a dict, appends (racers included) as a multiset."""
    from collections import Counter

    import tibame_project_spark.sources.manifest as M

    spark = spark_global
    base = str(tmp_path_factory.mktemp("manrace") / "t")
    write_manifest_table(
        spark, _mk(spark, initial), base, stats_cols=["id"], keep=10
    )
    merged_model = dict(initial)
    appended_model: Counter = Counter()

    def expect():
        return Counter(merged_model.items()) + appended_model

    for (kind, payload), racer in ops:
        if racer is not None:
            def _inject(rows=racer):
                append_manifest_table(
                    spark, spark.createDataFrame(rows, "id long, v long"),
                    base, keep=10,
                )
            M._TEST_COMMIT_RACE_HOOK = _inject
        try:
            if kind == "merge":
                merge_manifest_table(
                    spark,
                    spark.createDataFrame(
                        payload, "id long, v long, dead boolean"
                    ),
                    base, "id", delete_col="dead", keep=10,
                )
                for k, v, dead in payload:
                    if dead:
                        merged_model.pop(k, None)
                    else:
                        merged_model[k] = v
            elif kind == "append":
                append_manifest_table(
                    spark,
                    spark.createDataFrame(payload, "id long, v long"),
                    base, keep=10,
                )
                appended_model.update(payload)
            else:
                compact_manifest_table(
                    spark, base, small_bytes=1 << 30, target_bytes=1 << 30,
                    keep=10,
                )
        finally:
            # a no-op (e.g. compact with <2 candidates) never reaches the
            # commit path, so its racer never ran — the armed hook is the
            # tell (it self-clears when consumed)
            fired = M._TEST_COMMIT_RACE_HOOK is None
            M._TEST_COMMIT_RACE_HOOK = None
        if racer is not None and fired:
            appended_model.update(racer)  # the racer committed first
        got = Counter(
            (r["id"], r["v"])
            for r in read_manifest_table(spark, base).collect()
        )
        assert got == expect()


def test_threaded_concurrent_appends_all_land(spark, tmp_path):
    """Four writers appending from real threads with no coordination:
    every append must land (appends always rebase), the head must hold
    all rows, and history must show exactly 4 append commits — the claim
    protocol under genuine interleaving, not just the injected-race seam.
    Spark job submission is thread-safe; the contention here is on the
    table's claim/commit markers."""
    import threading

    from tibame_project_spark.sources.manifest import manifest_history

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"], keep=20
    )
    errors = []

    def writer(i: int) -> None:
        try:
            append_manifest_table(
                spark,
                spark.createDataFrame([(100 + i, i)], "id long, v long"),
                base,
                keep=20,
            )
        except Exception as e:  # surfaced below — a thread must not die
            errors.append((i, e))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert _content(spark, base) == {(0, 0)} | {(100 + i, i) for i in range(4)}
    ops = [r["op"] for r in manifest_history(spark, base).collect()]
    assert ops == ["create"] + ["append"] * 4


def test_rebase_past_pruned_history_raises_retriably(spark, tmp_path, monkeypatch):
    """A loser whose base version's metadata was pruned by the winners'
    retention (keep=1, two intervening commits) cannot conflict-check its
    rebase — it must raise the retriable ConcurrentCommitError, never
    guess: a blind rebase could silently drop a conflicting rewrite."""
    import tibame_project_spark.sources.manifest as M

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(10)]), base,
        stats_cols=["id"], keep=1,
    )

    def race():
        append_manifest_table(spark, _mk(spark, [(100, 100)]), base, keep=1)
        append_manifest_table(spark, _mk(spark, [(101, 101)]), base, keep=1)

    monkeypatch.setattr(M, "_TEST_COMMIT_RACE_HOOK", race)
    with pytest.raises(M.ConcurrentCommitError, match="history.*gone"):
        append_manifest_table(spark, _mk(spark, [(200, 200)]), base, keep=1)
    # the winners' commits survived untouched; a plain retry succeeds
    append_manifest_table(spark, _mk(spark, [(200, 200)]), base, keep=1)
    assert _content(spark, base) == {(i, i) for i in range(10)} | {
        (100, 100), (101, 101), (200, 200)
    }


def test_commits_landing_during_materialization_never_lost(
    spark, tmp_path, monkeypatch
):
    """r10 ADVICE (high): ``_finish``'s list→claim gap spans the whole
    manifest materialization job (minutes on a big commit). If ≥keep+1
    commits land inside it, the newest one's retention prune deletes
    ``_CLAIM``/``_COMMIT`` for the slow writer's target version, so its
    ``create_new`` SUCCEEDS on an already-committed-and-pruned version —
    without the post-claim head re-check it would publish there,
    silently dropping every racer's commit and resurrecting a pruned
    version for time travel. The re-check must turn that into the loud
    retriable conflict (the racers pruned the slow writer's base too, so
    a rebase cannot be conflict-checked and must refuse)."""
    import tibame_project_spark.sources.manifest as M

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"], keep=1
    )

    def race():  # fires between the slow writer's materialization and claim
        append_manifest_table(spark, _mk(spark, [(1, 1)]), base, keep=1)
        append_manifest_table(spark, _mk(spark, [(2, 2)]), base, keep=1)

    monkeypatch.setattr(M, "_TEST_PRECLAIM_HOOK", race)
    with pytest.raises(M.ConcurrentCommitError):
        append_manifest_table(spark, _mk(spark, [(3, 3)]), base, keep=1)
    assert M._TEST_PRECLAIM_HOOK is None  # the hook actually fired
    # both racer commits survived; nothing was resurrected at the stale
    # version (the failed attempt released its claim, so a retry lands)
    assert _content(spark, base) == {(0, 0), (1, 1), (2, 2)}
    append_manifest_table(spark, _mk(spark, [(3, 3)]), base, keep=1)
    assert _content(spark, base) == {(0, 0), (1, 1), (2, 2), (3, 3)}


def test_await_claim_surfaces_persistent_fs_errors(spark):
    """r10 ADVICE: ``_await_claim`` must treat ONLY file-not-found as
    'claim released'. A persistent IO/permission failure from the stat
    call has to surface as itself after bounded retries — swallowing it
    turns a filesystem outage into a silent busy rebase loop that
    exhausts _MAX_REBASES and reports misleading 'sustained
    contention'."""
    import tibame_project_spark.sources.manifest as M

    jvm = spark._jvm

    class BrokenFS:
        def exists(self, p):
            return False  # the marker never appears

        def getFileStatus(self, p):
            raise RuntimeError("Permission denied: /t/_CLAIM_v1")

    monkeypatch_poll = M._CLAIM_POLL_S
    try:
        M._CLAIM_POLL_S = 0.001
        with pytest.raises(RuntimeError, match="Permission denied"):
            M._await_claim(BrokenFS(), jvm, "/t", 1)
    finally:
        M._CLAIM_POLL_S = monkeypatch_poll

    class ReleasedFS(BrokenFS):
        def getFileStatus(self, p):
            raise FileNotFoundError(str(p))

    # a genuinely released claim still returns promptly
    assert M._await_claim(ReleasedFS(), jvm, "/t", 1) is None


def test_tagging_bounded_under_sustained_contention(spark, tmp_path, monkeypatch):
    """r10 ADVICE: tagging must not livelock under sustained commit
    traffic — commits are bounded by _MAX_REBASES, so tagging is too,
    raising the retriable ConcurrentCommitError with a hint instead of
    re-waiting fresh claims forever."""
    import tibame_project_spark.sources.manifest as M

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"], keep=5
    )

    class AlwaysContended(M.CommitFS):
        def create_new(self, fs, path, data: bytes = b"") -> None:
            raise IOError("claim already held")

    monkeypatch.setattr(M, "_await_claim", lambda *a, **k: None)
    prev = M.set_commit_fs(AlwaysContended())
    try:
        with pytest.raises(M.ConcurrentCommitError, match="gave up tagging"):
            M.tag_manifest_version(spark, base, "rel")
    finally:
        M.set_commit_fs(prev)


def test_tags_pin_versions_past_retention_and_vacuum(spark, tmp_path):
    """Release pinning (Iceberg-style tags): a tagged version's metadata
    survives every later commit's retention pruning and its files survive
    vacuum — the training-data release stays byte-identically readable
    while the live table is rewritten on top. Dropping the tag releases
    the pin at the next commit; tags are immutable and atomic."""
    from tibame_project_spark.sources.manifest import (
        delete_manifest_tag,
        list_manifest_tags,
        tag_manifest_version,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(20)]), base,
        stats_cols=["id"], cluster_by="id", n_files=2, keep=1,
    )
    release = {(i, i) for i in range(20)}
    assert tag_manifest_version(spark, base, "release-1") == 0

    # aggressive keep=1 retention: two full refreshes would normally
    # prune v0's marker/manifest/meta — the tag spares them
    for n in (10, 5):
        write_manifest_table(
            spark,
            spark.range(0, n).select(F.col("id"), F.col("id").alias("v")),
            base, n_files=1, keep=1,
        )
    assert list_manifest_tags(spark, base) == {"release-1": 0}
    assert _content(spark, base, tag="release-1") == release
    assert _content(spark, base, version=0) == release  # marker spared too
    # v1 (the n=10 refresh) was NOT tagged: pruned as usual
    with pytest.raises(FileNotFoundError):
        read_manifest_table(spark, base, version=1)
    # vacuum keeps every committed manifest's files — the pin's included
    vacuum_manifest_table(spark, base)
    assert _content(spark, base, tag="release-1") == release
    assert _content(spark, base) == {(i, i) for i in range(5)}

    # immutability + guards
    with pytest.raises(ValueError, match="immutable"):
        tag_manifest_version(spark, base, "release-1")
    with pytest.raises(FileNotFoundError, match="no tag"):
        read_manifest_table(spark, base, tag="nope")
    with pytest.raises(ValueError, match="invalid"):
        tag_manifest_version(spark, base, "_bad")
    with pytest.raises(ValueError, match="at most one"):
        read_manifest_table(spark, base, tag="release-1", version=0)

    # dropping the tag releases the pin: the next commit prunes v0
    delete_manifest_tag(spark, base, "release-1")
    assert list_manifest_tags(spark, base) == {}
    write_manifest_table(
        spark,
        spark.range(0, 3).select(F.col("id"), F.col("id").alias("v")),
        base, n_files=1, keep=1,
    )
    with pytest.raises(FileNotFoundError):
        read_manifest_table(spark, base, version=0)
    assert vacuum_manifest_table(spark, base) >= 1  # the release's files go


def test_claim_released_without_commit_unblocks_waiters_fast(spark, tmp_path, monkeypatch):
    """A writer that fails inside its claimed window RELEASES the claim;
    a waiting writer must notice the vanished claim and retry immediately
    — not stall for the full wait and demand manual recovery."""
    import threading
    import time

    import tibame_project_spark.sources.manifest as M

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=10
    )
    open(f"{base}/_CLAIM_v1", "w").close()
    monkeypatch.setattr(M, "_CLAIM_WAIT_S", 30.0)  # the stall we must avoid
    t = threading.Timer(1.0, lambda: os.remove(f"{base}/_CLAIM_v1"))
    t.start()
    t0 = time.monotonic()
    append_manifest_table(spark, _mk(spark, [(2, 2)]), base, keep=10)
    assert time.monotonic() - t0 < 15  # proceeded on release, no timeout
    assert _content(spark, base) == {(1, 1), (2, 2)}


def test_corrupt_tag_file_never_fails_commits(spark, tmp_path):
    """A crashed tagger's partial tag file cannot name the version it
    pins: commits must still publish (pruning skipped — always safe),
    tag reads must raise clearly, and deleting the corrupt tag restores
    normal housekeeping."""
    from tibame_project_spark.sources.manifest import delete_manifest_tag

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=1
    )
    os.makedirs(f"{base}/tags", exist_ok=True)
    open(f"{base}/tags/broken.json", "w").close()  # crashed mid-write
    # commits keep publishing; retention pruning is skipped, not crashed
    write_manifest_table(spark, _mk(spark, [(2, 2)]), base, keep=1)
    write_manifest_table(spark, _mk(spark, [(3, 3)]), base, keep=1)
    assert _content(spark, base) == {(3, 3)}
    assert os.path.exists(f"{base}/_COMMIT_v0")  # prune was skipped
    with pytest.raises(Exception):
        read_manifest_table(spark, base, tag="broken")
    delete_manifest_tag(spark, base, "broken")
    write_manifest_table(spark, _mk(spark, [(4, 4)]), base, keep=1)
    assert not os.path.exists(f"{base}/_COMMIT_v0")  # housekeeping resumed


def test_refresh_era_registry_stays_bounded_and_ids_never_alias(spark, tmp_path):
    """Era registry hygiene: repeated refreshes of a once-reordered
    schema reuse the remapped era instead of registering duplicates, and
    an add-column append after a column-dropping refresh takes an id
    fresh across the WHOLE registry — never aliasing a retired column
    (cross-era feeds pair by id)."""
    import json as _json

    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.createDataFrame([(1, "x")], "a long, b string"),
        base, stats_cols=["a"], keep=10,
    )

    def meta():
        return _json.loads(
            open(
                f"{base}/meta/v={read_manifest_version(spark, base)}.json"
            ).read()
        )

    # reorder refresh, then the SAME reordered schema twice more
    for _ in range(3):
        write_manifest_table(
            spark,
            spark.createDataFrame([("x", 1)], "b string, a long"),
            base, keep=10,
        )
        m = meta()
    assert len(m["schemas"]) == 2  # original + ONE remapped era, not 4
    # ids followed names through the reorder
    cur = {f["name"]: f["id"] for f in m["schemas"][str(m["schema_id"])]}
    assert cur == {"a": 0, "b": 1}

    # drop-column refresh (b gone), then append-evolve a new column c:
    # c's id must not reuse b's id 1
    write_manifest_table(
        spark, spark.createDataFrame([(2,)], "a long"), base, keep=10
    )
    append_manifest_table(
        spark,
        spark.createDataFrame([(3, 9.5)], "a long, c double"),
        base, keep=10, allow_evolution=True,
    )
    m = meta()
    cur = {f["name"]: f["id"] for f in m["schemas"][str(m["schema_id"])]}
    assert cur["a"] == 0 and cur["c"] >= 2  # never b's id
    got = {
        (r["a"], r["c"])
        for r in read_manifest_table(spark, base).collect()
    }
    assert got == {(2, None), (3, 9.5)}


def test_replicate_bootstrap_crash_replay_full_refreshes_not_merges(
    spark, tmp_path
):
    """Bootstrap crash-replay safety (r09 ADVICE): a crash AFTER the
    bootstrap wrote the destination but BEFORE the cursor committed must
    re-run the bootstrap as a FULL REFRESH — the re-pulled snapshot sits
    at the source's CURRENT head, and merging its insert-only rows into
    the half-bootstrapped destination would orphan every key the source
    deleted between the two attempts, forever."""
    from tibame_project_spark.streaming.incremental import (
        replicate_manifest_table,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    state = str(tmp_path / "cursor.json")

    def content(base):
        return {
            (r["id"], r["v"])
            for r in read_manifest_table(spark, base).collect()
        }

    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(20)]), src,
        stats_cols=["id"], cluster_by="id", n_files=4, keep=10,
    )
    assert replicate_manifest_table(
        spark, src, dst, "id", state_path=state, keep=10
    ) == 1
    # the bootstrap mirrors the source's file granularity — one
    # monolithic file would defeat every later merge epoch's skipping
    from tibame_project_spark.sources.manifest import manifest_table_stats

    assert manifest_table_stats(spark, dst)["numFiles"] >= 2

    # crash simulation: destination written, cursor never committed
    os.remove(state)
    # the source moves on — including DELETES the bootstrap feed (insert
    # rows only) can never express
    merge_manifest_table(
        spark,
        spark.createDataFrame(
            [(3, 0, True), (7, 0, True), (100, 100, False)],
            "id long, v long, dead boolean",
        ),
        src, "id", delete_col="dead", keep=10,
    )
    assert replicate_manifest_table(
        spark, src, dst, "id", state_path=state, keep=10
    ) == 1
    got = content(dst)
    assert (3, 3) not in got and (7, 7) not in got  # deletes NOT orphaned
    assert got == content(src)


def test_tagging_under_concurrent_commits_never_dangles(spark, tmp_path):
    """The r09-flagged tag-vs-prune race, closed by prune-before-marker:
    a tagger pinning the head while a keep=1 committer prunes aggressively
    from another thread must either pin durably or fail loudly — every
    surviving tag's marker, manifest, AND meta must exist and read back.
    (Before the fix, a tag could land on a version whose metadata the
    in-flight commit then deleted, leaving a dangling pin.)"""
    import threading

    from tibame_project_spark.sources.manifest import (
        list_manifest_tags,
        tag_manifest_version,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"], keep=1
    )
    errors: list = []
    stop = threading.Event()

    def committer():
        try:
            for i in range(6):
                append_manifest_table(
                    spark, _mk(spark, [(100 + i, i)]), base, keep=1
                )
        except Exception as e:
            errors.append(("committer", e))
        finally:
            stop.set()

    def tagger():
        i = 0
        try:
            while not stop.is_set() and i < 12:
                tag_manifest_version(spark, base, f"pin{i}")
                i += 1
        except Exception as e:
            errors.append(("tagger", e))

    threads = [
        threading.Thread(target=committer),
        threading.Thread(target=tagger),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    tags = list_manifest_tags(spark, base)
    assert tags  # the tagger pinned at least one version
    for name, v in tags.items():
        # the pin is durable: marker + manifest + meta all survived the
        # concurrent prunes, and the version reads back
        assert os.path.exists(f"{base}/_COMMIT_v{v}"), (name, v)
        assert os.path.exists(f"{base}/manifest/v={v}"), (name, v)
        assert os.path.exists(f"{base}/meta/v={v}.json"), (name, v)
        read_manifest_table(spark, base, tag=name).collect()


def test_arrow_and_spark_manifest_paths_agree(spark, tmp_path, monkeypatch):
    """The driver-side Arrow metadata fast paths are an OPTIMIZATION,
    never a fork: (a) a manifest written by the Arrow materializer reads
    identically through pyarrow and through spark.read.parquet; (b) a
    commit whose Arrow materialization is unavailable (remote-store
    scheme, exotic type) lands byte-equivalent through the distributed
    fallback, and the two tables read back equal."""
    import tibame_project_spark.sources.manifest as M

    base = str(tmp_path / "arrow")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(50)]), base,
        stats_cols=["id"], cluster_by="id", n_files=2, bloom_cols=["id"],
    )
    merge_manifest_table(
        spark,
        spark.createDataFrame([(3, 99, False), (4, 0, True)],
                              "id long, v long, dead boolean"),
        base, "id", delete_col="dead",
    )
    head = M.read_manifest_version(spark, base)
    tbl = M._load_manifest(spark, base, head)
    via_arrow = sorted(map(str, spark.createDataFrame(tbl).collect()))
    via_spark = sorted(map(str, spark.read.parquet(
        f"{base}/manifest/v={head}"
    ).collect()))
    assert via_arrow == via_spark

    # force the distributed fallback for BOTH read and materialize
    base2 = str(tmp_path / "fallback")
    monkeypatch.setattr(M, "_arrow_fs", lambda path: None)
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(50)]), base2,
        stats_cols=["id"], cluster_by="id", n_files=2, bloom_cols=["id"],
    )
    merge_manifest_table(
        spark,
        spark.createDataFrame([(3, 99, False), (4, 0, True)],
                              "id long, v long, dead boolean"),
        base2, "id", delete_col="dead",
    )
    monkeypatch.undo()
    want = {(i, i) for i in range(50) if i not in (3, 4)} | {(3, 99)}
    assert _content(spark, base) == want
    assert _content(spark, base2) == want
    # and the fallback-written table is Arrow-readable afterwards
    import pyarrow.parquet as pq

    head2 = M.read_manifest_version(spark, base2)
    assert pq.read_table(f"{base2}/manifest/v={head2}").num_rows > 0


def test_commit_fs_seam_routes_every_publish_point(spark, tmp_path):
    """The CommitFS seam is load-bearing: claims, commit markers, and tag
    pins ALL publish through it — a conditional-put adapter installed via
    set_commit_fs sees every atomic create-new the protocol performs."""
    import tibame_project_spark.sources.manifest as M
    from tibame_project_spark.sources.manifest import (
        CommitFS,
        set_commit_fs,
        tag_manifest_version,
    )

    class Counting(CommitFS):
        def __init__(self):
            self.paths: list[str] = []

        def create_new(self, fs, path, data: bytes = b"") -> None:
            self.paths.append(path.getName())
            super().create_new(fs, path, data)

    base = str(tmp_path / "t")
    counter = Counting()
    prev = set_commit_fs(counter)
    try:
        write_manifest_table(
            spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=10
        )
        append_manifest_table(spark, _mk(spark, [(2, 2)]), base, keep=10)
        tag_manifest_version(spark, base, "rel")
    finally:
        set_commit_fs(prev)
    names = counter.paths
    # 2 commits x (claim + marker) + tag x (claim + pin file)
    assert names.count("_CLAIM_v0") == 1 and names.count("_COMMIT_v0") == 1
    assert names.count("_CLAIM_v1") == 1 and names.count("_COMMIT_v1") == 1
    assert names.count("_CLAIM_v2") == 1  # the tagger's claimed window
    assert names.count("rel.json") == 1
    assert M._COMMIT_FS is prev  # restored


@pytest.mark.parametrize("kind", ["fake", "coordinated", "conditional_put"])
def test_non_atomic_commit_fs_breaks_exclusivity_conditional_put_restores_it(
    spark, tmp_path, monkeypatch, kind
):
    """Why the seam exists (r09 verdict item 2): on a store whose
    create-new is a non-atomic exists-then-put (eventual-consistency-era
    S3A), a held claim does NOT exclude a second writer — the protocol's
    exclusivity silently evaporates. A conditional-put adapter restores
    the atomic-create contract and with it the documented behavior: the
    second writer waits, then raises for recovery. Parametrized (r10
    verdict item 5) over the in-test lock+check stand-in AND both
    deployable adapters from sources/commitfs.py."""
    import threading

    import tibame_project_spark.sources.manifest as M
    from tibame_project_spark.sources.manifest import (
        CommitFS,
        ConcurrentCommitError,
        set_commit_fs,
    )

    class NonAtomic(CommitFS):
        """exists-then-put with no atomicity: both halves can interleave
        with another writer's — and worse, the put OVERWRITES."""

        def create_new(self, fs, path, data: bytes = b"") -> None:
            out = fs.create(path, True)  # overwrite: the broken half
            try:
                if data:
                    out.write(bytearray(data))
            finally:
                out.close()

    class FakeConditionalPut(CommitFS):
        """What a real S3 adapter provides: one compare-and-create."""

        def __init__(self):
            self._lock = threading.Lock()

        def create_new(self, fs, path, data: bytes = b"") -> None:
            with self._lock:
                if fs.exists(path):
                    raise IOError(f"{path} already exists")
                out = fs.create(path, True)
                try:
                    if data:
                        out.write(bytearray(data))
                finally:
                    out.close()

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=10
    )
    monkeypatch.setattr(M, "_CLAIM_WAIT_S", 0.5)
    open(f"{base}/_CLAIM_v1", "w").close()  # another writer's LIVE claim

    # broken store: the held claim excludes nothing — the append barges
    # straight through the "exclusive" window (two writers would now own
    # v1; this is the corruption class the requirement note documents)
    prev = set_commit_fs(NonAtomic())
    try:
        append_manifest_table(spark, _mk(spark, [(2, 2)]), base, keep=10)
    finally:
        set_commit_fs(prev)

    # conditional-put adapter: exclusivity is back — the writer waits out
    # the (stale) claim and raises for recovery, exactly like the default
    # on an atomic-create filesystem
    open(f"{base}/_CLAIM_v2", "w").close()
    adapter = (
        FakeConditionalPut() if kind == "fake"
        else _mk_adapter(kind, spark, tmp_path)
    )
    if kind == "coordinated":
        # a real crashed writer on this deployment left BOTH the claim
        # object and its coordination entry — the direct open() above
        # only fakes the object, so fake the arbiter record too
        fs, _, jvm = M._fs_for(spark, base)
        entry = adapter._entry(
            fs, jvm.org.apache.hadoop.fs.Path(f"{base}/_CLAIM_v2")
        )
        out = fs.create(entry, False)
        out.close()
    prev = set_commit_fs(adapter)
    try:
        with pytest.raises(ConcurrentCommitError, match="recover_manifest_table"):
            append_manifest_table(spark, _mk(spark, [(3, 3)]), base, keep=10)
    finally:
        set_commit_fs(prev)


def _mk_adapter(kind, spark, tmp_path):
    """The deployable CommitFS adapters, built against local paths (the
    coordination dir / fake conditional-put client both live on the
    strongly consistent local fs — exactly the role HDFS/EFS plays in
    the deployment matrix)."""
    import os as _os

    from tibame_project_spark.sources.commitfs import (
        ConditionalPutCommitFS,
        CoordinatedCommitFS,
    )
    from tibame_project_spark.sources.manifest import _fs_for

    fs, _, jvm = _fs_for(spark, str(tmp_path))
    if kind == "coordinated":
        return CoordinatedCommitFS(fs, f"{tmp_path}/_coord", jvm)

    def put_if_absent(uri: str, data: bytes) -> None:
        p = uri[len("file:"):] if uri.startswith("file:") else uri
        try:
            fd = _os.open(p, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
        except FileExistsError:
            raise FileExistsError(uri)
        try:
            _os.write(fd, data)
        finally:
            _os.close(fd)

    def delete_object(uri: str) -> None:
        p = uri[len("file:"):] if uri.startswith("file:") else uri
        try:
            _os.unlink(p)
        except FileNotFoundError:
            pass

    def get_object(uri: str) -> bytes:
        p = uri[len("file:"):] if uri.startswith("file:") else uri
        with open(p, "rb") as f:
            return f.read()

    return ConditionalPutCommitFS(put_if_absent, delete_object, get_object)


@pytest.mark.parametrize("kind", ["coordinated", "conditional_put"])
def test_deployable_adapters_run_the_full_protocol(spark, tmp_path, kind):
    """r10 verdict item 5: the deployable adapters — external
    coordination (Delta S3DynamoDBLogStore-shaped) and native
    conditional put (S3 If-None-Match-shaped) — drive the COMPLETE
    protocol, not just the exclusivity unit check: concurrent threaded
    appends (claims, markers, releases), a merge, tagging, retention
    pruning past keep (seam-routed marker deletes), tag drop, and
    recovery of an abandoned claim. Any desync between the adapter's
    external state and the store (e.g. a release that strands a
    coordination entry) wedges a later claim of the same version path
    and fails this test."""
    import threading

    import tibame_project_spark.sources.manifest as M
    from tibame_project_spark.sources.manifest import (
        delete_manifest_tag,
        manifest_history,
        recover_manifest_table,
        set_commit_fs,
        tag_manifest_version,
    )

    base = str(tmp_path / "t")
    adapter = _mk_adapter(kind, spark, tmp_path)
    prev = set_commit_fs(adapter)
    try:
        write_manifest_table(
            spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"], keep=3
        )
        errors = []

        def writer(i: int) -> None:
            try:
                append_manifest_table(
                    spark, _mk(spark, [(100 + i, i)]), base, keep=3
                )
            except Exception as e:
                errors.append((i, e))

        threads = [threading.Thread(target=writer, args=(i,)) for i in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert errors == []
        assert _content(spark, base) == {(0, 0)} | {(100 + i, i) for i in range(3)}
        tag_manifest_version(spark, base, "rel")
        merge_manifest_table(
            spark,
            spark.createDataFrame([(0, 99, False)], "id long, v long, dead boolean"),
            base, "id", delete_col="dead", keep=3,
        )
        # churn past keep=3 so the retention prune DELETES markers through
        # the adapter (a direct-delete desync strands coordination state)
        for j in range(4):
            append_manifest_table(spark, _mk(spark, [(200 + j, j)]), base, keep=3)
        assert (0, 99) in _content(spark, base)
        delete_manifest_tag(spark, base, "rel")
        # abandoned claim (entry + object, as a crashed post-claim writer
        # leaves them): recovery clears BOTH through the seam, and the
        # version is claimable again
        head = M.read_manifest_version(spark, base)
        claim = f"{base}/{M._CLAIM_PREFIX}{head + 1}"
        fs, _, jvm = M._fs_for(spark, base)
        adapter.create_new(fs, jvm.org.apache.hadoop.fs.Path(claim))
        assert recover_manifest_table(spark, base) == 1
        append_manifest_table(spark, _mk(spark, [(300, 300)]), base, keep=3)
        assert (300, 300) in _content(spark, base)
        assert [r["op"] for r in manifest_history(spark, base).collect()][0] == "append"
    finally:
        set_commit_fs(prev)


def test_coordinated_adapter_orphan_recovery(spark, tmp_path):
    """CoordinatedCommitFS crash contract: a writer that dies between
    coordination-entry create and the object PUT leaves an orphan entry
    that blocks that path — commits fail loudly (bounded, no silent
    takeover) until clear_orphans (age-guarded, like
    recover_manifest_table) drops it."""
    import tibame_project_spark.sources.manifest as M
    from tibame_project_spark.sources.manifest import (
        ConcurrentCommitError,
        set_commit_fs,
    )

    base = str(tmp_path / "t")
    adapter = _mk_adapter("coordinated", spark, tmp_path)
    prev = set_commit_fs(adapter)
    try:
        write_manifest_table(
            spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"], keep=5
        )
        fs, _, jvm = M._fs_for(spark, base)
        # simulate the crash: entry created, object PUT never happened
        entry = adapter._entry(
            fs, jvm.org.apache.hadoop.fs.Path(f"{base}/{M._CLAIM_PREFIX}1")
        )
        out = fs.create(entry, False)
        out.write(bytearray(f"{base}/{M._CLAIM_PREFIX}1".encode()))
        out.close()
        with pytest.raises(ConcurrentCommitError):
            append_manifest_table(spark, _mk(spark, [(1, 1)]), base, keep=5)
        # age-guarded: a fresh entry (in-flight PUT) is spared
        assert adapter.clear_orphans(fs, min_age_s=3600) == 0
        assert adapter.clear_orphans(fs, min_age_s=0) == 1
        append_manifest_table(spark, _mk(spark, [(1, 1)]), base, keep=5)
        assert _content(spark, base) == {(0, 0), (1, 1)}
    finally:
        set_commit_fs(prev)


def test_conditional_put_ambiguous_retry_disambiguates_by_token(spark, tmp_path):
    """ConditionalPutCommitFS retry rule: a conditional PUT whose first
    attempt landed but whose response was lost comes back
    PreconditionFailed on retry, as if another writer won. The adapter
    embeds a per-(instance, path) token in empty-bodied markers and, on
    FileExistsError, GETs the object — its own token means its earlier
    attempt won (create_new succeeds); a foreign body stays a loss."""
    from tibame_project_spark.sources.commitfs import ConditionalPutCommitFS

    store: dict[str, bytes] = {}

    def put_if_absent(uri, data):
        if uri in store:
            raise FileExistsError(uri)
        store[uri] = data
        raise TimeoutError("response lost after the PUT landed")

    adapter = ConditionalPutCommitFS(
        put_if_absent, lambda uri: store.pop(uri, None), store.get
    )
    with pytest.raises(TimeoutError):
        adapter.create_new(None, "/t/_CLAIM_v1")
    # the retry: PUT now 412s, but the object body is OUR token → success
    adapter.create_new(None, "/t/_CLAIM_v1")
    # a marker someone ELSE owns stays a loss
    store["/t/_CLAIM_v2"] = b"foreign-token"
    with pytest.raises(FileExistsError):
        adapter.create_new(None, "/t/_CLAIM_v2")
    # tokens are THREAD-scoped: another writer thread sharing this
    # adapter instance must NOT recognize thread A's claim as its own
    # ambiguous win (that would give one version two owners — the lost
    # update the threaded adapter test caught)
    import threading

    outcome = []

    def other_thread():
        try:
            adapter.create_new(None, "/t/_CLAIM_v1")
            outcome.append("won")
        except FileExistsError:
            outcome.append("lost")

    t = threading.Thread(target=other_thread)
    t.start()
    t.join()
    assert outcome == ["lost"]


@pytest.mark.parametrize(
    "seed,fs_kind",
    [(11, "default"), (23, "default"), (47, "default"), (31, "coordinated")],
)
def test_random_multiwriter_histories_serialize(spark, tmp_path, seed, fs_kind):
    """Randomized multi-writer model check (r09 verdict item 4; r10 item 3
    widened the op alphabet): three REAL threads each run a seeded-random
    sequence of append/merge/delete/compact/STAGE+PUBLISH — thread 0 may
    also EVOLVE (rename the value column) — with no coordination.
    Afterwards the surviving table must equal the dict+multiset model
    replay of the SUCCESSFUL ops under SOME interleaving that preserves
    each thread's program order — i.e. every history the protocol lets
    through is serializable. ConcurrentCommitError losers are legal (the
    conservative conflict classes: a publish rebasing over a true
    conflict, a stale-schema write racing an evolve, two stages fighting
    for one version) and excluded from the replay. Renames never change
    the (id, value) content, so the model replays values and the final
    read resolves the value column by name at the end. Writers adapt
    their payload schema to the current head (what a real client does
    after evolution) and retry ONCE on a naming race — a second failure
    is a protocol bug.

    r12 adds the UPDATE verb to thread 1's draw: a constant assignment
    over two base keys — the file-rewriting read-set op whose candidate
    files race every merge/delete/compact touching them; the model
    replays it as a conditional overwrite of the keys present at its
    point (UPDATE never inserts).

    r11 widens the alphabet again with IDEMPOTENT-TXN appends: threads 0
    and 1 both carry the SAME ``txn=("mw", 0)`` batch (the zombie-driver
    shape — one logical delivery raced from two writers) and thread 2
    may carry ``txn=("mw", 1)``; the model replays them through the
    monotone watermark (a batch lands iff its version exceeds the
    watermark at its point in the interleaving — so duplicate deliveries
    count ONCE, and a version-1 commit that precedes version 0 legally
    swallows it). Thread 2 may also ADD a (vacuously-true) CHECK
    constraint mid-history: a zero-file-edit exclusive commit that every
    in-flight row-writing commit must either serialize before or lose to
    (the require_constraints claim check) — content is unchanged either
    way, so the model treats it as a no-op and the property checks that
    the protocol's refusals never corrupt the survivors."""
    import random
    import threading
    from collections import Counter

    import tibame_project_spark.sources.manifest as M
    from tibame_project_spark.sources.manifest import (
        ConcurrentCommitError,
        delete_manifest_table,
        evolve_manifest_table,
        publish_staged_manifest,
        stage_merge_manifest_table,
    )

    rnd = random.Random(seed)
    base = str(tmp_path / "t")
    # fs_kind="coordinated" runs the whole random history through the
    # deployable external-coordination adapter — the serializability
    # property must hold on an object store without atomic create-new
    prev_fs = (
        M.set_commit_fs(_mk_adapter("coordinated", spark, tmp_path))
        if fs_kind == "coordinated" else None
    )
    initial = [(i, i) for i in range(30)]
    write_manifest_table(
        spark, _mk(spark, initial), base, stats_cols=["id"],
        cluster_by="id", n_files=3, keep=50,
    )

    def vcol_now() -> str:
        head = M.read_manifest_version(spark, base)
        fields = M._meta(spark, base, head)["schema"]["fields"]
        return next(f["name"] for f in fields if f["name"] != "id")

    evolve_n = [0]

    def gen_ops(tid):
        kinds = ["append", "merge", "delete", "compact", "stage_publish"]
        if tid == 0:
            kinds.append("evolve")
        if tid == 1:
            # r12: the UPDATE verb joins the alphabet — a constant
            # assignment keyed to base ids, so the model replays it as
            # a conditional overwrite of the keys present at its point
            kinds.append("update")
        ops = []
        for j in range(3):
            kind = rnd.choice(kinds)
            if kind == "append":
                ops.append((
                    "append",
                    [(1000 + 100 * tid + 10 * j + k, rnd.randrange(100))
                     for k in range(2)],
                ))
            elif kind in ("merge", "stage_publish"):
                ops.append((
                    kind,
                    [(k, rnd.randrange(100), rnd.random() < 0.25)
                     for k in rnd.sample(range(30), 3)],
                ))
            elif kind == "delete":
                ops.append(("delete", rnd.sample(range(30), 2)))
            elif kind == "evolve":
                evolve_n[0] += 1
                ops.append(("evolve", f"w{evolve_n[0]}"))
            elif kind == "update":
                ops.append((
                    "update",
                    (rnd.sample(range(30), 2), rnd.randrange(100)),
                ))
            else:
                ops.append(("compact", None))
        return ops

    plans = {tid: gen_ops(tid) for tid in range(3)}
    # the directive's hole classes must actually be drawn every run:
    # guarantee >=1 evolve (thread 0) and >=1 stage_publish (thread 1)
    if not any(op[0] == "evolve" for op in plans[0]):
        evolve_n[0] += 1
        plans[0][rnd.randrange(3)] = ("evolve", f"w{evolve_n[0]}")
    if not any(op[0] == "stage_publish" for op in plans[1]):
        plans[1][rnd.randrange(3)] = (
            "stage_publish",
            [(k, rnd.randrange(100), rnd.random() < 0.25)
             for k in rnd.sample(range(30), 3)],
        )
    if not any(op[0] == "update" for op in plans[1]):
        slots = [
            i for i, op in enumerate(plans[1]) if op[0] != "stage_publish"
        ] or [0]
        plans[1][rnd.choice(slots)] = (
            "update", (rnd.sample(range(30), 2), rnd.randrange(100))
        )
    # r11 txn ops: the SAME (app, ver) delivery raced from two threads,
    # plus an optional later version from a third (ids disjoint from
    # every other op's key space)
    shared_txn = {
        ver: [(5000 + 10 * ver + k, rnd.randrange(100)) for k in range(2)]
        for ver in (0, 1)
    }
    for tid in (0, 1):
        plans[tid].insert(
            rnd.randrange(len(plans[tid]) + 1), ("txn_append", (0, shared_txn[0]))
        )
    if rnd.random() < 0.5:
        plans[2].insert(
            rnd.randrange(len(plans[2]) + 1), ("txn_append", (1, shared_txn[1]))
        )
    # r11 constraint op: vacuously true (every generated row satisfies
    # it), so it exercises ONLY the concurrency surface — the exclusive
    # zero-file-edit commit and the require_constraints refusals it
    # forces on racing row writers
    plans[2].insert(
        rnd.randrange(len(plans[2]) + 1),
        ("add_constraint", f"c{seed}"),
    )
    applied = {tid: [] for tid in range(3)}
    hard_errors = []

    def run_op(kind, payload):
        if kind in ("merge", "stage_publish"):
            src = spark.createDataFrame(
                payload, f"id long, `{vcol_now()}` long, dead boolean"
            )
            if kind == "merge":
                merge_manifest_table(
                    spark, src, base, "id", delete_col="dead", keep=50
                )
            else:
                token = stage_merge_manifest_table(
                    spark, src, base, "id", delete_col="dead"
                )
                publish_staged_manifest(spark, base, token, keep=50)
        elif kind == "append":
            append_manifest_table(
                spark,
                spark.createDataFrame(payload, f"id long, `{vcol_now()}` long"),
                base, keep=50,
            )
        elif kind == "txn_append":
            ver, rows = payload
            append_manifest_table(
                spark,
                spark.createDataFrame(rows, f"id long, `{vcol_now()}` long"),
                base, keep=50, txn=("mw", ver),
            )
        elif kind == "add_constraint":
            from tibame_project_spark.sources.manifest import (
                add_manifest_constraint,
            )

            add_manifest_constraint(
                spark, base, payload, "id >= -1", keep=50, validate=False
            )
        elif kind == "delete":
            delete_manifest_table(
                spark,
                spark.createDataFrame([(k,) for k in payload], "id long"),
                base, "id", keep=50,
            )
        elif kind == "update":
            from tibame_project_spark.sources.manifest import (
                update_manifest_table,
            )

            keys_, const = payload
            update_manifest_table(
                spark, base, {vcol_now(): str(const)},
                f"id in ({keys_[0]}, {keys_[1]})", keep=50,
            )
        elif kind == "evolve":
            evolve_manifest_table(
                spark, base, rename={vcol_now(): payload}, keep=50
            )
        else:
            compact_manifest_table(
                spark, base, small_bytes=1 << 30,
                target_bytes=1 << 30, keep=50,
            )

    def runner(tid):
        for op in plans[tid]:
            kind, payload = op
            try:
                try:
                    run_op(kind, payload)
                except ConcurrentCommitError as e:
                    if "CHECK constraint set" in str(e):
                        # a constraint landed mid-flight: the refusal is
                        # the protocol working; a real client re-gates
                        # its batch against the new set and retries
                        run_op(kind, payload)
                    else:
                        raise
                except Exception:
                    # a naming race: the value column was renamed between
                    # this writer's schema read and its derive. The write
                    # was REFUSED before any commit; re-adapt and retry
                    # once, like a real client. A repeat failure falls
                    # through to hard_errors — a genuine protocol bug
                    # reproduces, a naming race does not.
                    run_op(kind, payload)
                applied[tid].append(op)
            except ConcurrentCommitError:
                pass  # a conservative conflict: legal, op NOT applied
            except Exception as e:  # anything else is a protocol bug
                hard_errors.append((tid, kind, repr(e)))

    threads = [threading.Thread(target=runner, args=(t,)) for t in range(3)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        if prev_fs is not None:
            M.set_commit_fs(prev_fs)
    assert hard_errors == []
    # appends never intersect any merge/delete key range, so absent
    # schema evolution none may drop; an append racing an EVOLVE may
    # legally lose (schema changes never rebase)
    if not any(op[0] == "evolve" for op in applied[0]):
        for tid in range(3):
            want = [op for op in plans[tid] if op[0] == "append"]
            got_appends = [op for op in applied[tid] if op[0] == "append"]
            assert got_appends == want, f"thread {tid} lost an append"

    vc = vcol_now()
    got = Counter(
        (r["id"], r[vc])
        for r in read_manifest_table(spark, base).collect()
    )
    # the surviving value-column name must be exactly the LAST applied
    # evolve's target (or 'v' if none applied) — renames serialize too
    evolves = [op[1] for op in applied[0] if op[0] == "evolve"]
    assert vc == (evolves[-1] if evolves else "v")

    def replay(seq):
        merged = dict(initial)
        appended: Counter = Counter()
        wm = -1  # app "mw" idempotent-txn watermark (monotone)
        for kind, payload in seq:
            if kind in ("merge", "stage_publish"):
                for k, v, dead in payload:
                    if dead:
                        merged.pop(k, None)
                    else:
                        merged[k] = v
            elif kind == "append":
                appended.update(payload)
            elif kind == "txn_append":
                ver, rows = payload
                if ver > wm:  # duplicate/stale deliveries land ONCE
                    appended.update(rows)
                    wm = ver
            elif kind == "delete":
                for k in payload:
                    merged.pop(k, None)
                appended = Counter({
                    (k, v): c for (k, v), c in appended.items()
                    if k not in payload
                })
            elif kind == "update":
                keys_, const = payload
                for k in keys_:
                    if k in merged:  # UPDATE never inserts
                        merged[k] = const
            # evolve/compact: content no-ops
        return Counter(merged.items()) + appended

    def interleavings(seqs):
        seqs = [s for s in seqs if s]
        if not seqs:
            yield []
            return
        for i, s in enumerate(seqs):
            rest = seqs[:i] + [s[1:]] + seqs[i + 1:]
            for tail in interleavings(rest):
                yield [s[0]] + tail

    candidates = [applied[t] for t in range(3)]
    assert any(
        replay(seq) == got for seq in interleavings(candidates)
    ), (
        f"no interleaving of the successful ops reproduces the table "
        f"(seed={seed}, applied={applied})"
    )


def test_stream_replicate_runs_under_real_streaming_query_with_kill_resume(
    spark, tmp_path
):
    """r09 verdict item 7: the feed consumer under Spark's OWN streaming
    engine — a rate-micro-batch-ticked StreamingQuery drains one feed
    epoch per micro-batch into a replica table. The query is KILLED
    mid-stream (stop()), the producer keeps committing (including a
    delete), and a restart from the SAME checkpoint+cursor resumes
    replication with no gaps and no dupes — checkpoint/restart semantics
    from a genuine StreamingQuery, the feed cursor as the durability
    barrier."""
    import time

    from tibame_project_spark.sources.manifest import delete_manifest_table
    from tibame_project_spark.streaming.incremental import (
        stream_replicate_manifest_table,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    state = str(tmp_path / "cursor.json")
    ckpt = str(tmp_path / "ckpt")

    def content(base):
        return {
            (r["id"], r["v"])
            for r in read_manifest_table(spark, base).collect()
        }

    def cursor():
        import json as _json

        try:
            with open(state) as f:
                return _json.load(f)["version"]
        except FileNotFoundError:
            return -1

    def await_cursor(q, v, timeout=300):
        # generous: under a fully loaded 32-thread suite, streaming-query
        # startup plus a few rate micro-batches can take minutes of wall
        deadline = time.monotonic() + timeout
        while cursor() < v:
            if q.exception() is not None:
                raise AssertionError(f"query died: {q.exception()}")
            assert time.monotonic() < deadline, (
                f"replication stalled: cursor {cursor()} < {v}"
            )
            time.sleep(0.5)

    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(20)]), src,
        stats_cols=["id"], cluster_by="id", n_files=2, keep=20,
    )
    merge_manifest_table(
        spark,
        spark.createDataFrame([(3, 333, False)], "id long, v long, dead boolean"),
        src, "id", delete_col="dead", keep=20,
    )
    q = stream_replicate_manifest_table(
        spark, src, dst, "id", state_path=state, checkpoint=ckpt, keep=20
    )
    try:
        await_cursor(q, 1)  # bootstrap + one merge epoch, streamed
    finally:
        q.stop()  # the mid-stream kill
    q.awaitTermination(30)
    assert content(dst) == content(src)

    # the producer moves on while the consumer is down
    merge_manifest_table(
        spark,
        spark.createDataFrame([(100, 100, False)], "id long, v long, dead boolean"),
        src, "id", delete_col="dead", keep=20,
    )
    delete_manifest_table(
        spark, spark.createDataFrame([(7,)], "id long"), src, "id", keep=20
    )
    # restart from the SAME checkpoint + cursor: resumes, no re-bootstrap
    q = stream_replicate_manifest_table(
        spark, src, dst, "id", state_path=state, checkpoint=ckpt, keep=20
    )
    try:
        await_cursor(q, 3)
    finally:
        q.stop()
    q.awaitTermination(30)
    got = content(dst)
    assert got == content(src)
    assert (100, 100) in got and (7, 7) not in got


def test_bloom_probe_drops_values_old_eras_cannot_represent(spark, tmp_path):
    """Era-aware Bloom probing after a widening (r10): probing a value
    beyond the OLD era's physical int range must not overflow-crash the
    probe build (ANSI cast) — it try_cast-drops the value for that era,
    and an era left with zero representable probes contributes no branch
    at all, so ALL its files are skipped exactly (no int file can hold a
    post-widening key). Mixed probes still split per era, and no rows
    are ever lost."""
    from tibame_project_spark.sources.manifest import (
        bloom_prune_expr,
        evolve_manifest_table,
    )

    base = str(tmp_path / "t")
    df = spark.range(0, 400).select(
        F.col("id").cast("int").alias("id"), (F.col("id") * 7).alias("v")
    )
    write_manifest_table(
        spark, df, base, stats_cols=["id"], cluster_by="id", n_files=4,
        bloom_cols=["id"], bloom_m=1 << 12, bloom_k=3,
    )
    evolve_manifest_table(spark, base, widen={"id": "bigint"})
    wide_key = 3_000_000_000
    append_manifest_table(
        spark,
        spark.createDataFrame([(wide_key, 1)], "id long, v long"),
        base, n_files=1,
    )
    # wide-only probe: every era-0 file must be skipped (bloom branch
    # absent), only the post-widening file survives the prune
    expr = bloom_prune_expr(spark, base, "id", [wide_key])
    kept = manifest_file_paths(spark, base, prune=expr)
    assert len(kept) == 1
    got = read_manifest_table(spark, base, prune=expr).where(
        F.col("id") == wide_key
    )
    assert [tuple(r) for r in got.collect()] == [(wide_key, 1)]
    # mixed probe: era-0 files probed with the int-hashed value, the wide
    # file with the long-hashed one — both rows found, most files skipped
    expr = bloom_prune_expr(spark, base, "id", [123, wide_key])
    kept = manifest_file_paths(spark, base, prune=expr)
    assert 2 <= len(kept) <= 3  # of 5
    got = read_manifest_table(spark, base, prune=expr).where(
        F.col("id").isin([123, wide_key])
    )
    assert {tuple(r) for r in got.collect()} == {(123, 123 * 7), (wide_key, 1)}


def test_replicate_detects_source_evolution_and_resumes_after_dst_evolve(
    spark, tmp_path
):
    """The feed carries data, not DDL (r10): when the SOURCE evolves
    (rename + widen) mid-replication, the next interval's apply must
    raise BEFORE touching the destination or cursor — naming the fix —
    instead of silently dropping the renamed column's history or writing
    wider values under the narrower declared schema. Evolving the
    destination the same way and re-running resumes cleanly: the
    replayed epoch applies, and the replica tracks the source across the
    boundary."""
    from tibame_project_spark.sources.manifest import evolve_manifest_table
    from tibame_project_spark.streaming.incremental import (
        replicate_manifest_table,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    state = str(tmp_path / "cursor.json")

    def content(base):
        return sorted(
            tuple(r) for r in read_manifest_table(spark, base).collect()
        )

    write_manifest_table(
        spark,
        spark.range(20).select(
            F.col("id").cast("int").alias("id"), F.col("id").alias("v")
        ),
        src, stats_cols=["id"], cluster_by="id", n_files=2, keep=20,
    )
    assert replicate_manifest_table(
        spark, src, dst, "id", state_path=state, keep=20
    ) == 1
    # the source evolves: rename v->val, widen id int->bigint, then a
    # merge lands keys only the widened type can hold
    evolve_manifest_table(
        spark, src, rename={"v": "val"}, widen={"id": "bigint"}, keep=20
    )
    merge_manifest_table(
        spark,
        spark.createDataFrame(
            [(3, 333, False), (3_000_000_000, 9, False)],
            "id long, val long, dead boolean",
        ),
        src, "id", delete_col="dead", keep=20,
    )
    with pytest.raises(ValueError, match="evolve_manifest_table"):
        replicate_manifest_table(
            spark, src, dst, "id", state_path=state, keep=20
        )
    # the guard fired before any damage: cursor + destination untouched
    import json as _json

    assert _json.load(open(state))["version"] == 0
    assert content(dst) == [(i, i) for i in range(20)]
    # operator applies the SAME evolution to the replica and re-runs
    evolve_manifest_table(
        spark, dst, rename={"v": "val"}, widen={"id": "bigint"}, keep=20
    )
    assert replicate_manifest_table(
        spark, src, dst, "id", state_path=state, keep=20
    ) == 2  # the evolve epoch (empty diff) + the merge epoch
    assert content(dst) == content(src)
    assert (3_000_000_000, 9) in set(content(dst))


def test_crashed_post_rename_attempt_is_cleaned_by_next_claimant(
    spark, tmp_path
):
    """A writer that crashed AFTER renaming its manifest into
    manifest/v=<n> but BEFORE its marker leaves a claimed version with a
    stale manifest dir. recover clears the claim; the next writer owns
    the version, deletes the dead dir, and publishes its own manifest —
    readers never see the crashed attempt's file list."""
    from tibame_project_spark.sources.manifest import recover_manifest_table

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=10
    )
    # forge the crash state: claim held, manifest dir present, no marker
    open(f"{base}/_CLAIM_v1", "w").close()
    os.makedirs(f"{base}/manifest/v=1")
    open(f"{base}/manifest/v=1/junk.parquet", "w").write("not a manifest")
    assert recover_manifest_table(spark, base) == 1
    append_manifest_table(spark, _mk(spark, [(2, 2)]), base, keep=10)
    assert _content(spark, base) == {(1, 1), (2, 2)}
    assert not os.path.exists(f"{base}/manifest/v=1/junk.parquet")


def test_vacuum_sweeps_crashed_manifest_tmp_dirs(spark, tmp_path):
    """_finish deletes its own manifest_tmp attempt dir on every exit
    path, so anything left there belongs to a dead process — vacuum
    reclaims it (subject to the same min_age_s contract as data dirs)."""
    import time

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=10
    )
    assert os.listdir(f"{base}/manifest_tmp") == []  # attempt self-cleaned
    os.makedirs(f"{base}/manifest_tmp/c=deadbeef")
    open(f"{base}/manifest_tmp/c=deadbeef/part-0.parquet", "w").close()
    # a generous RETAIN window spares the (young) dir — a live writer's
    # in-flight materialization must survive a racing vacuum
    assert vacuum_manifest_table(spark, base, min_age_s=3600) == 0
    assert os.path.exists(f"{base}/manifest_tmp/c=deadbeef")
    time.sleep(1.1)
    # sweeps the dead tmp dir (plus any zero-row part files the initial
    # write left, which no manifest ever references)
    assert vacuum_manifest_table(spark, base, min_age_s=1.0) >= 1
    assert not os.path.exists(f"{base}/manifest_tmp/c=deadbeef")
    assert _content(spark, base) == {(1, 1)}


def test_vacuum_sweeps_crashed_write_text_tmp_siblings(spark, tmp_path):
    """A crash between _write_text's temp-sibling create and the rename
    leaks '.<name>.tmp-<uuid>' beside the meta files forever — vacuum
    sweeps aged ones (dry run counts them without deleting, keeping its
    prediction exact); a YOUNG temp under min_age_s is a live publish's
    in-flight rename and survives. The feed cursor lives outside the
    table, so manifest_feed_commit sweeps its own directory instead."""
    import time

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=10
    )
    dead = f"{base}/meta/.v=9.json.tmp-deadbeef"
    open(dead, "w").close()
    assert vacuum_manifest_table(spark, base, min_age_s=3600) == 0
    assert os.path.exists(dead)  # young (or generously retained): spared
    time.sleep(1.1)
    assert vacuum_manifest_table(
        spark, base, min_age_s=1.0, dry_run=True
    ) == 1
    assert os.path.exists(dead)  # dry run deletes nothing
    assert vacuum_manifest_table(spark, base, min_age_s=1.0) == 1
    assert not os.path.exists(dead)
    assert _content(spark, base) == {(1, 1)}
    # the cursor's own directory: an aged crashed temp beside the state
    # file is reclaimed by the next successful advance
    from tibame_project_spark.sources.manifest import manifest_feed_commit

    state_dir = tmp_path / "state"
    state_dir.mkdir()
    state = str(state_dir / "cursor.json")
    stale = state_dir / ".cursor.json.tmp-cafe"
    stale.touch()
    old = time.time() - 7200
    os.utime(stale, (old, old))
    fresh = state_dir / ".cursor.json.tmp-beef"
    fresh.touch()
    manifest_feed_commit(spark, state, 1)
    assert not stale.exists()  # hour-aged crash leftover swept
    assert fresh.exists()  # a live racer's temp untouched
    import json as _json

    assert _json.loads(open(state).read()) == {"version": 1}


def test_recover_min_age_spares_young_claims(spark, tmp_path):
    """recover_manifest_table(min_age_s=...) — the automated-recovery
    form: a claim younger than the threshold might belong to a live
    writer and is spared; an aged-out one is cleared. The bare call
    (operator asserts no writer is live) still clears everything."""
    import time

    from tibame_project_spark.sources.manifest import recover_manifest_table

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=10
    )
    open(f"{base}/_CLAIM_v1", "w").close()
    assert recover_manifest_table(spark, base, min_age_s=3600) == 0
    assert os.path.exists(f"{base}/_CLAIM_v1")
    time.sleep(1.1)
    assert recover_manifest_table(spark, base, min_age_s=1.0) == 1
    open(f"{base}/_CLAIM_v1", "w").close()
    assert recover_manifest_table(spark, base) == 1  # bare = clear all


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.tuples(
                st.just("merge"),
                st.lists(
                    st.tuples(
                        st.integers(0, 30), st.integers(0, 100), st.booleans()
                    ),
                    min_size=1,
                    max_size=5,
                    unique_by=lambda t: t[0],
                ),
            ),
            st.tuples(
                st.just("append"),
                st.lists(
                    st.tuples(st.integers(31, 60), st.integers(0, 100)),
                    min_size=1,
                    max_size=4,
                    unique_by=lambda t: t[0],
                ),
            ),
            st.tuples(
                st.just("delete"),
                st.lists(
                    st.integers(0, 60), min_size=1, max_size=3, unique=True
                ),
            ),
            st.tuples(st.just("compact"), st.just(None)),
            st.tuples(st.just("rename"), st.just(None)),
            st.tuples(st.just("widen"), st.just(None)),
            st.tuples(st.just("dropreadd"), st.just(None)),
        ),
        min_size=2,
        max_size=6,
    ),
)
def test_evolution_sequence_matches_dict_model(
    spark_global, tmp_path_factory, ops
):
    """The evolution surface under ARBITRARY interleavings (r10): any
    sequence of merge/append/delete/compact with metadata-only RENAMEs
    and a TYPE WIDENING thrown in anywhere must keep reading exactly the
    dict+multiset model — batches always speak the CURRENT column names
    and key type, old files keep their write-era physical schema, and
    every read lifts all eras by field id. A wrong era projection (bad
    rename mapping, cast, or NULL-fill) shows up as a value mismatch;
    a second widening must refuse (bigint has no sanctioned wider type).
    The oracle-gated ``evolution_cycle`` covers one fixed journey; this
    covers the combinatorics around it."""
    from collections import Counter

    from tibame_project_spark.sources.manifest import (
        delete_manifest_table,
        evolve_manifest_table,
    )

    spark = spark_global
    base = str(tmp_path_factory.mktemp("manevo") / "t")
    initial = [(i, i) for i in range(20)]
    spark_df = spark.createDataFrame(initial, "id int, v0 long")
    write_manifest_table(
        spark, spark_df, base, stats_cols=["id"], cluster_by="id",
        n_files=2, keep=10,
    )
    merged_model = dict(initial)
    appended_model: Counter = Counter()
    key_type = "int"
    gen = 0  # current measure name is f"v{gen}"

    def vname():
        return f"v{gen}"

    def expect():
        return Counter(merged_model.items()) + appended_model

    for kind, payload in ops:
        if kind == "merge":
            merge_manifest_table(
                spark,
                spark.createDataFrame(
                    payload, f"id {key_type}, {vname()} long, dead boolean"
                ),
                base, "id", delete_col="dead", keep=10,
            )
            for k, v, dead in payload:
                if dead:
                    merged_model.pop(k, None)
                else:
                    merged_model[k] = v
        elif kind == "append":
            append_manifest_table(
                spark,
                spark.createDataFrame(payload, f"id {key_type}, {vname()} long"),
                base, keep=10,
            )
            appended_model.update(payload)
        elif kind == "delete":
            delete_manifest_table(
                spark,
                spark.createDataFrame(
                    [(k,) for k in payload], f"id {key_type}"
                ),
                base, "id", keep=10,
            )
            condemned = set(payload)
            for k in condemned:
                merged_model.pop(k, None)
            appended_model = Counter(
                {
                    (k, v): c
                    for (k, v), c in appended_model.items()
                    if k not in condemned
                }
            )
        elif kind == "compact":
            compact_manifest_table(
                spark, base, small_bytes=1 << 30, target_bytes=1 << 30,
                keep=10,
            )
        elif kind == "rename":
            evolve_manifest_table(
                spark, base, rename={vname(): f"v{gen + 1}"}, keep=10
            )
            gen += 1
        elif kind == "widen":
            if key_type == "int":
                evolve_manifest_table(spark, base, widen={"id": "bigint"}, keep=10)
                key_type = "bigint"
            else:
                with pytest.raises(ValueError, match="cannot widen"):
                    evolve_manifest_table(
                        spark, base, widen={"id": "bigint"}, keep=10
                    )
        else:  # dropreadd: DROP the measure, re-add the SAME NAME via
            # append evolution — the registry must mint a fresh field id,
            # so every pre-drop row reads NULL under the re-added name;
            # a recycled id resurrects old values and breaks the model
            evolve_manifest_table(spark, base, drop=[vname()], keep=10)
            append_manifest_table(
                spark,
                spark.createDataFrame(
                    [(61, 4242)], f"id {key_type}, {vname()} long"
                ),
                base, allow_evolution=True, keep=10,
            )
            merged_model = {k: None for k in merged_model}
            nulled: Counter = Counter()
            for (k, _v), c in appended_model.items():
                nulled[(k, None)] += c
            appended_model = nulled
            appended_model[(61, 4242)] += 1
        got_df = read_manifest_table(spark, base)
        assert sorted(got_df.columns) == sorted(["id", vname()])
        got = Counter((r["id"], r[vname()]) for r in got_df.collect())
        assert got == expect(), f"after {kind}: {payload}"
    vacuum_manifest_table(spark, base)
    got = Counter(
        (r["id"], r[vname()])
        for r in read_manifest_table(spark, base).collect()
    )
    assert got == expect()


def test_wap_stage_audit_publish_roundtrip(spark, tmp_path):
    """Write-audit-publish (r10): staging runs the whole merge but
    publishes nothing — readers and the head are untouched, a bare
    vacuum spares the staged data files, the audit read previews the
    would-be table exactly, and publish lands the identical content a
    live merge would have (then consumes the stage record)."""
    from tibame_project_spark.sources.manifest import (
        list_staged_manifests,
        manifest_history,
        publish_staged_manifest,
        read_staged_manifest,
        stage_merge_manifest_table,
    )

    base = str(tmp_path / "t")
    initial = [(i, i) for i in range(20)]
    write_manifest_table(
        spark, _mk(spark, initial), base, stats_cols=["id"],
        cluster_by="id", n_files=2, keep=10,
    )
    batch = spark.createDataFrame(
        [(3, 333, False), (5, 0, True), (100, 100, False)],
        "id long, v long, dead boolean",
    )
    token = stage_merge_manifest_table(
        spark, batch, base, "id", delete_col="dead"
    )
    expected = ({(i, i) for i in range(20)} - {(3, 3), (5, 5)}) | {
        (3, 333), (100, 100)
    }
    # nothing published: readers see the original table, history is one
    # create, the stage is listed
    assert _content(spark, base) == set(initial)
    assert [r["op"] for r in manifest_history(spark, base).collect()] == ["create"]
    assert list_staged_manifests(spark, base)[token]["base_head"] == 0
    # bare vacuum spares the staged (not-yet-referenced) data files
    vacuum_manifest_table(spark, base)
    # the audit read previews the would-be table exactly
    got = {
        (r["id"], r["v"])
        for r in read_staged_manifest(spark, base, token).collect()
    }
    assert got == expected
    v = publish_staged_manifest(spark, base, token, keep=10)
    assert v == 1
    assert _content(spark, base) == expected
    assert list_staged_manifests(spark, base) == {}
    with pytest.raises(FileNotFoundError, match="no staged edit"):
        read_staged_manifest(spark, base, token)


def test_wap_publish_rebases_disjoint_and_conflicts_overlapping(
    spark, tmp_path
):
    """Publish goes through the same version-CAS as a live commit: a
    disjoint append landing during the audit window is rebased over (both
    edits land); a concurrent merge into the stage's key range conflicts
    loudly; an abandoned stage's data files are vacuum-reclaimed."""
    from tibame_project_spark.sources.manifest import (
        ConcurrentCommitError,
        abandon_staged_manifest,
        publish_staged_manifest,
        stage_merge_manifest_table,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(20)]), base,
        stats_cols=["id"], cluster_by="id", n_files=2, keep=10,
    )
    token = stage_merge_manifest_table(
        spark, _mk(spark, [(3, 333)]), base, "id"
    )
    # audit window: a DISJOINT append lands
    append_manifest_table(spark, _mk(spark, [(1000, 1000)]), base, keep=10)
    assert publish_staged_manifest(spark, base, token, keep=10) == 2
    assert (3, 333) in _content(spark, base)
    assert (1000, 1000) in _content(spark, base)

    # second stage; a concurrent merge rewrites its candidate files
    token = stage_merge_manifest_table(
        spark, _mk(spark, [(4, 444)]), base, "id"
    )
    merge_manifest_table(spark, _mk(spark, [(6, 666)]), base, "id", keep=10)
    with pytest.raises(ConcurrentCommitError):
        publish_staged_manifest(spark, base, token, keep=10)
    # the stage survives a failed publish (re-staging is the caller's
    # move); abandoning it releases its data files to vacuum
    before = vacuum_manifest_table(spark, base)
    abandon_staged_manifest(spark, base, token)
    assert vacuum_manifest_table(spark, base) > 0  # the stage's files
    assert (6, 666) in _content(spark, base)  # the winner survived
    assert (4, 444) not in _content(spark, base)  # the loser never landed
    with pytest.raises(FileNotFoundError):
        abandon_staged_manifest(spark, base, token)


def _wap_kind(kind):
    """(schema, key of row i, a key just above key i) for a bounds kind."""
    import datetime
    import decimal
    import math

    if kind == "timestamp":
        t0 = datetime.datetime(2024, 3, 10, 1, 30)
        return ("id timestamp, v long",
                lambda i: t0 + datetime.timedelta(hours=i),
                lambda i: t0 + datetime.timedelta(hours=i, microseconds=1))
    if kind == "decimal":
        return ("id decimal(10,2), v long",
                lambda i: decimal.Decimal(i) + decimal.Decimal("0.25"),
                lambda i: decimal.Decimal(i) + decimal.Decimal("0.26"))
    return ("id double, v long", lambda i: i + 0.5,
            lambda i: math.nextafter(i + 0.5, math.inf))


@pytest.mark.parametrize("kind", ["timestamp", "decimal", "double"])
def test_wap_stage_bounds_need_no_job_and_guard_publish(
    spark, tmp_path, spark_jobs, monkeypatch, kind
):
    """Staging keeps the key bounds in stage.json: ``_persist_stage``
    runs no Spark job for a timestamp, decimal or double key. Published
    in another session time zone, the bounds still gate the rebase
    exactly: an append just above them rebases, an append of a key
    inside them raises ConcurrentCommitError."""
    import tibame_project_spark.sources.manifest as M

    schema, key, above = _wap_kind(kind)
    jobs_seen = []

    def persist(*a, **kw):
        with spark_jobs() as jobs:
            out = real(*a, **kw)
        jobs_seen.append(jobs())
        return out

    real = M._persist_stage
    monkeypatch.setattr(M, "_persist_stage", persist)
    base = str(tmp_path / "t")
    rows = lambda *ks: spark.createDataFrame(ks, schema)  # noqa: E731
    write_manifest_table(
        spark, rows(*[(key(i), i) for i in range(20)]), base,
        stats_cols=["id"], cluster_by="id", n_files=2, keep=10,
    )
    token = M.stage_merge_manifest_table(spark, rows((key(3), 333)), base, "id")
    append_manifest_table(spark, rows((above(3), 1)), base, keep=10)
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        assert M.publish_staged_manifest(spark, base, token, keep=10) == 2
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    token = M.stage_merge_manifest_table(spark, rows((key(15), 555)), base, "id")
    append_manifest_table(spark, rows((key(15), 7)), base, keep=10)
    with pytest.raises(M.ConcurrentCommitError):
        M.publish_staged_manifest(spark, base, token, keep=10)
    assert jobs_seen == [0, 0]
    got = {(r["id"], r["v"]) for r in read_manifest_table(spark, base).collect()}
    assert (key(3), 333) in got and (key(15), 555) not in got


def test_wap_crashed_stage_protects_nothing(spark, tmp_path):
    """A stage that crashed before its stage.json landed is invisible:
    not listed, not readable, and its partial files are NOT spared by
    vacuum (the stamp is the stage's publish point, mirroring the commit
    marker's crash contract)."""
    from tibame_project_spark.sources.manifest import (
        list_staged_manifests,
        read_staged_manifest,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=10
    )
    os.makedirs(f"{base}/staged/deadbeef/add")
    open(f"{base}/staged/deadbeef/add/part-0.parquet", "w").close()
    os.makedirs(f"{base}/data/c=crashed")
    open(f"{base}/data/c=crashed/part-0.parquet", "w").close()
    assert list_staged_manifests(spark, base) == {}
    with pytest.raises(FileNotFoundError):
        read_staged_manifest(spark, base, "deadbeef")
    assert vacuum_manifest_table(spark, base) >= 1  # crashed files swept
    assert not os.path.exists(f"{base}/data/c=crashed")


def test_curation_pass_staged_audit_then_publish(spark, tmp_path):
    """curate_corpus(stage=True): the curation pass as write-audit-
    publish — the tombstone merge is fully prepared but the corpus is
    untouched; the audit read shows exactly the post-curation corpus
    (dedup losers gone, winners kept); publishing lands the same content
    a direct pass would have, and a repeat pass is a no-op fixpoint."""
    from tibame_project_spark.plans.curation import curate_corpus
    from tibame_project_spark.sources.manifest import (
        publish_staged_manifest,
        read_staged_manifest,
    )

    base = str(tmp_path / "corpus")
    docs = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "cc"), (5, "bb")],
        "doc_id long, text string",
    )
    write_manifest_table(
        spark, docs, base, stats_cols=["doc_id"], cluster_by="doc_id",
        n_files=2, keep=10,
    )
    token, n = curate_corpus(spark, base, stage=True)
    assert n == 2  # doc 3 (dup of 1) and doc 5 (dup of 2)
    # corpus untouched until sign-off
    assert read_manifest_table(spark, base).count() == 5
    audited = {
        (r["doc_id"], r["text"])
        for r in read_staged_manifest(spark, base, token).collect()
    }
    assert audited == {(1, "aa"), (2, "bb"), (4, "cc")}
    publish_staged_manifest(spark, base, token, keep=10)
    got = {
        (r["doc_id"], r["text"])
        for r in read_manifest_table(spark, base).collect()
    }
    assert got == audited
    assert curate_corpus(spark, base, stage=True) == (None, 0)  # fixpoint


def test_wap_staged_dv_delete_audit_publish_and_vacuum_protection(
    spark, tmp_path
):
    """Staged DELETION-VECTOR deletes (r10): the sidecar is written and
    the repoint prepared, but nothing publishes — readers see every row,
    the audit read shows the condemned keys gone, a bare vacuum spares
    the STAGED sidecar (dv_referenced via the staged rows), and publish
    lands the same zero-rewrite delete a live call would. The staged
    form also rides curate_corpus(stage=True, use_deletion_vectors=True)."""
    from tibame_project_spark.plans.curation import curate_corpus
    from tibame_project_spark.sources.manifest import (
        manifest_history,
        manifest_table_stats,
        publish_staged_manifest,
        read_staged_manifest,
        stage_delete_manifest_table,
    )

    base = str(tmp_path / "t")
    data_paths = lambda: {
        r["path"] for r in manifest_stats(spark, base).collect()
    }
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(20)]), base,
        stats_cols=["id"], cluster_by="id", n_files=2, keep=10,
    )
    before_files = data_paths()
    token = stage_delete_manifest_table(
        spark, spark.createDataFrame([(3,), (7,)], "id long"), base, "id"
    )
    assert _content(spark, base) == {(i, i) for i in range(20)}  # unpublished
    vacuum_manifest_table(spark, base)  # must spare the staged sidecar
    audited = {
        (r["id"], r["v"])
        for r in read_staged_manifest(spark, base, token).collect()
    }
    assert audited == {(i, i) for i in range(20)} - {(3, 3), (7, 7)}
    publish_staged_manifest(spark, base, token, keep=10)
    assert _content(spark, base) == audited
    # zero data files rewritten: the live set is the SAME files, now
    # carrying a vector
    assert data_paths() == before_files
    assert manifest_table_stats(spark, base)["n_dv_files"] >= 1
    assert [r["op"] for r in manifest_history(spark, base).collect()] == [
        "create", "delete",
    ]

    # the staged DV path through the curation plan
    base2 = str(tmp_path / "corpus")
    docs = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa")], "doc_id long, text string"
    )
    write_manifest_table(
        spark, docs, base2, stats_cols=["doc_id"], cluster_by="doc_id",
        n_files=1, keep=10,
    )
    token, n = curate_corpus(
        spark, base2, stage=True, use_deletion_vectors=True
    )
    assert n == 1
    assert read_manifest_table(spark, base2).count() == 3
    publish_staged_manifest(spark, base2, token, keep=10)
    got = {
        (r["doc_id"], r["text"])
        for r in read_manifest_table(spark, base2).collect()
    }
    assert got == {(1, "aa"), (2, "bb")}


def test_wap_stale_schema_audit_refuses_and_replayed_publish_conflicts(
    spark, tmp_path
):
    """Two WAP edge contracts (r10): (1) a schema change landing after
    staging makes the stage STALE — the audit read refuses (a unioned
    preview over renamed stats columns would be silently wrong) exactly
    as publish would; (2) a publish that crashed after its commit marker
    but before consuming the stage leaves a spent record whose re-publish
    CONFLICTS — loud, never a silent double-apply."""
    from tibame_project_spark.sources.manifest import (
        ConcurrentCommitError,
        abandon_staged_manifest,
        evolve_manifest_table,
        publish_staged_manifest,
        read_staged_manifest,
        stage_merge_manifest_table,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(10)]), base,
        stats_cols=["id"], cluster_by="id", n_files=2, keep=10,
    )
    token = stage_merge_manifest_table(
        spark, _mk(spark, [(3, 333)]), base, "id"
    )
    evolve_manifest_table(spark, base, rename={"v": "val"}, keep=10)
    with pytest.raises(ConcurrentCommitError, match="stale"):
        read_staged_manifest(spark, base, token)
    with pytest.raises(ConcurrentCommitError):
        publish_staged_manifest(spark, base, token, keep=10)
    abandon_staged_manifest(spark, base, token)

    # crash-replayed publish: simulate by copying the stage record aside,
    # publishing, restoring the record, and publishing "again"
    import shutil

    token = stage_merge_manifest_table(
        spark,
        spark.createDataFrame([(4, 444)], "id long, val long"),
        base, "id",
    )
    shutil.copytree(f"{base}/staged/{token}", f"{base}/staged_bak")
    assert publish_staged_manifest(spark, base, token, keep=10) == 2
    shutil.copytree(f"{base}/staged_bak", f"{base}/staged/{token}")
    with pytest.raises(ConcurrentCommitError):
        publish_staged_manifest(spark, base, token, keep=10)
    # no double-apply: exactly one (4, 444) row, spent stage abandonable
    rows = [
        tuple(r)
        for r in read_manifest_table(spark, base)
        .where("id = 4")
        .collect()
    ]
    assert rows == [(4, 444)]
    abandon_staged_manifest(spark, base, token)


# ---------------------------------------------------------------------------
# Idempotent transactions (txn=(app_id, version) — Delta's txnAppId/
# txnVersion public design on the manifest tier). The exactly-once
# primitive for streaming foreachBatch sinks: at-least-once delivery
# replays the last unacknowledged batch, and the watermark turns the
# replay into a no-op.
# ---------------------------------------------------------------------------


def test_txn_replayed_append_is_noop(spark, tmp_path):
    from tibame_project_spark.sources.manifest import last_txn_version

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"]
    )
    v1 = append_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, txn=("ingest", 0)
    )
    assert v1 == 1
    assert last_txn_version(spark, base, "ingest") == 0
    # exact replay: no new version, no new rows
    assert append_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, txn=("ingest", 0)
    ) == v1
    assert read_manifest_version(spark, base) == v1
    assert _content(spark, base) == {(0, 0), (1, 1)}
    # an OLDER txn version is also a replay (watermark is a high-water
    # mark, not a set) — a crashed driver can re-deliver several batches
    v2 = append_manifest_table(
        spark, _mk(spark, [(2, 2)]), base, txn=("ingest", 3)
    )
    assert v2 == 2
    assert append_manifest_table(
        spark, _mk(spark, [(9, 9)]), base, txn=("ingest", 1)
    ) == v2
    assert _content(spark, base) == {(0, 0), (1, 1), (2, 2)}
    assert last_txn_version(spark, base, "ingest") == 3
    assert last_txn_version(spark, base, "other") is None
    # a different application's stream is independent
    append_manifest_table(spark, _mk(spark, [(5, 5)]), base, txn=("other", 0))
    assert _content(spark, base) == {(0, 0), (1, 1), (2, 2), (5, 5)}


def test_txn_watermark_carried_by_every_commit_kind(spark, tmp_path):
    """A compact/merge/evolve/restore between a batch and its replay must
    not drop the watermark — every commit kind carries the map forward,
    and RESTORE keeps it MONOTONE (replayed batches never double-apply
    into a restored table)."""
    from tibame_project_spark.sources.manifest import (
        evolve_manifest_table,
        last_txn_version,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(8)]), base,
        stats_cols=["id"], keep=10,
    )
    append_manifest_table(
        spark, _mk(spark, [(100, 100)]), base, txn=("ingest", 7), keep=10
    )
    # unrelated commits of every kind land in between
    merge_manifest_table(
        spark, _mk(spark, [(0, 50)]), base, "id", keep=10
    )
    compact_manifest_table(spark, base, small_bytes=1 << 30, keep=10)
    evolve_manifest_table(spark, base, rename={"v": "val"}, keep=10)
    assert last_txn_version(spark, base, "ingest") == 7
    # the replay is still a no-op after all of them
    head = read_manifest_version(spark, base)
    df = _mk(spark, [(100, 100)]).withColumnRenamed("v", "val")
    assert append_manifest_table(
        spark, df, base, txn=("ingest", 7), keep=10
    ) == head
    # RESTORE to a pre-txn version keeps the watermark (monotone):
    restore_manifest_table(spark, base, 0, keep=10)
    assert last_txn_version(spark, base, "ingest") == 7
    assert append_manifest_table(
        spark, _mk(spark, [(100, 100)]), base, txn=("ingest", 7), keep=10
    ) == read_manifest_version(spark, base)
    assert (100, 100) not in {
        tuple(r) for r in read_manifest_table(spark, base).collect()
    }


def test_txn_merge_and_delete_idempotent(spark, tmp_path, monkeypatch):
    """A replayed merge or delete returns the recorded version, having
    read the head's listing and meta once each."""
    import collections

    from tibame_project_spark.sources import manifest as M
    from tibame_project_spark.sources.manifest import delete_manifest_table

    calls = collections.Counter()
    for name in ("_begin", "_meta"):
        def counted(*a, _fn=getattr(M, name), _name=name, **k):
            calls[_name] += 1
            return _fn(*a, **k)

        monkeypatch.setattr(M, name, counted)
    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(10)]), base,
        stats_cols=["id"], keep=10,
    )
    v = merge_manifest_table(
        spark, _mk(spark, [(3, 333), (20, 20)]), base, "id",
        keep=10, txn=("cdc", 0),
    )
    calls.clear()
    assert merge_manifest_table(
        spark, _mk(spark, [(3, 333), (20, 20)]), base, "id",
        keep=10, txn=("cdc", 0),
    ) == v
    assert calls == {"_begin": 1, "_meta": 1}
    want = {(i, i) for i in range(10) if i != 3} | {(3, 333), (20, 20)}
    assert _content(spark, base) == want
    keys = _mk(spark, [(20, 0)]).select("id")
    v2 = delete_manifest_table(spark, keys, base, "id", keep=10, txn=("cdc", 1))
    calls.clear()
    assert delete_manifest_table(
        spark, keys, base, "id", keep=10, txn=("cdc", 1)
    ) == v2
    assert calls == {"_begin": 1, "_meta": 1}
    assert read_manifest_version(spark, base) == v2
    assert _content(spark, base) == want - {(20, 20)}


def test_txn_replay_racing_its_own_first_attempt_applies_once(
    spark, tmp_path, monkeypatch
):
    """Two concurrent deliveries of ONE batch (a zombie driver racing its
    replacement): both pass the cheap pre-write check, one commits, the
    other must detect the watermark when its claim attempt re-reads the
    head — under the claim, not before it — and no-op. The loop-top
    re-read of the ACTUAL head's txns is what closes this."""
    import tibame_project_spark.sources.manifest as M

    base = str(tmp_path / "t")
    write_manifest_table(spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"])

    def race():  # fires after the slow writer materialized, before its claim
        append_manifest_table(
            spark, _mk(spark, [(1, 1)]), base, txn=("ingest", 0)
        )

    monkeypatch.setattr(M, "_TEST_PRECLAIM_HOOK", race)
    v = append_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, txn=("ingest", 0)
    )
    assert M._TEST_PRECLAIM_HOOK is None  # the racer actually ran
    assert v == read_manifest_version(spark, base) == 1
    rows = read_manifest_table(spark, base).where("id = 1").collect()
    assert len(rows) == 1  # applied exactly once


def test_txn_recorded_at_create_makes_replayed_bootstrap_noop(spark, tmp_path):
    """Crash between the creating commit and the stream checkpoint ack:
    the replayed epoch 0 routes to the append path (the table now
    exists) and must no-op on the watermark the create recorded."""
    base = str(tmp_path / "t")
    df = _mk(spark, [(0, 0), (1, 1)])
    assert write_manifest_table(
        spark, df, base, stats_cols=["id"], txn=("ingest", 0)
    ) == 0
    assert append_manifest_table(spark, df, base, txn=("ingest", 0)) == 0
    assert _content(spark, base) == {(0, 0), (1, 1)}


def test_stream_append_sink_exactly_once_across_commit_log_loss(spark, tmp_path):
    """streaming.incremental.stream_append_manifest_table: the ingest
    sink whose replays are TRUE no-ops. Crash simulation is exact: a
    driver that dies between the table commit and the checkpoint ack
    leaves the offsets log ahead of the commits log, so the restart
    re-delivers the last batch — here forced by deleting the newest
    entry under <checkpoint>/commits. Without the txn watermark the
    replayed append would double that batch's rows."""
    import glob
    import os

    from tibame_project_spark.streaming.incremental import (
        stream_append_manifest_table,
    )

    src = tmp_path / "src"
    for i in range(3):  # one file per micro-batch (maxFilesPerTrigger=1)
        _mk(spark, [(i * 10 + j, i) for j in range(5)]).coalesce(
            1
        ).write.mode("append").parquet(str(src))
    base, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        stream_append_manifest_table(
            stream, base, checkpoint=ckpt, stats_cols=["id"],
            app_id="ingest", keep=10,
        )

    run()
    assert read_manifest_table(spark, base).count() == 15
    # force the replay: drop the newest commit-log entry
    commits = sorted(
        (p for p in glob.glob(os.path.join(ckpt, "commits", "*"))
         if os.path.basename(p).isdigit()),
        key=lambda p: int(os.path.basename(p)),
    )
    os.remove(commits[-1])
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):  # local-FS checksum sidecar would block the rewrite
        os.remove(crc)
    run()  # re-delivers the last batch; the watermark no-ops it
    assert read_manifest_table(spark, base).count() == 15
    # new data still flows after the replayed epoch
    _mk(spark, [(1000 + j, 9) for j in range(5)]).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run()
    assert read_manifest_table(spark, base).count() == 20
    assert read_manifest_table(spark, base).where("id >= 1000").count() == 5


def test_stream_cdc_apply_manifest_app_id_makes_replays_versionless(
    spark, tmp_path
):
    """``app_id`` on the CDC sink upgrades replay safety from fixpoint
    (re-run the merge, publish a content-identical version) to watermark
    (zero jobs, zero versions): after a forced commit-log loss the
    re-delivered epoch must leave the table's HEAD VERSION untouched.
    The DV form's two commits ride derived app streams (<app>/u,
    <app>/d) so a crash between them replays only the missing half —
    witnessed here by the watermark each stream reports."""
    import glob
    import os

    from tibame_project_spark.sources.manifest import last_txn_version
    from tibame_project_spark.streaming.incremental import (
        stream_cdc_apply_manifest,
    )

    src = tmp_path / "feed"
    base = str(tmp_path / "mantab")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, name string, v long, dead boolean"

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        stream_cdc_apply_manifest(
            stream, base, "id", checkpoint=ckpt, delete_col="dead",
            delete_via_dv=True, app_id="cdc", keep=10,
        )

    def content():
        return sorted(
            tuple(r) for r in read_manifest_table(spark, base).collect()
        )

    land([(1, "a", 10, False), (2, "b", 20, False)])
    run()  # epoch 0: bootstrap
    land([(2, "B", 200, False), (1, "a", 0, True), (3, "c", 30, False)])
    run()  # epoch 1: one merge commit (/u) + one DV delete commit (/d)
    expected = [(2, "B", 200), (3, "c", 30)]
    assert content() == expected
    assert last_txn_version(spark, base, "cdc/u") == 1
    assert last_txn_version(spark, base, "cdc/d") == 1
    head_before = read_manifest_version(spark, base)
    # force the crash-replay: drop the newest stream commit-log ack
    commits = sorted(
        (
            p
            for p in glob.glob(os.path.join(ckpt, "commits", "*"))
            if os.path.basename(p).isdigit()
        ),
        key=lambda p: int(os.path.basename(p)),
    )
    os.remove(commits[-1])
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    run()  # re-delivers epoch 1: both halves no-op on their watermarks
    assert content() == expected
    assert read_manifest_version(spark, base) == head_before  # NO new version


def test_timestamp_as_of_reads_and_monotone_clock(spark, tmp_path, monkeypatch):
    """TIMESTAMP AS OF (Delta's public design): every commit stamps a
    wall-clock ts in meta, forced MONOTONE per table (a later commit
    from a skewed clock must not time-travel before its predecessor —
    resolution is a scan for the latest ts <= requested, so a regression
    would make the newer commit invisible to as-of reads between the two
    stamps). ``as_of`` accepts epoch ms or datetime; before-history
    raises (pruned retention must not silently snap forward); after the
    newest commit resolves to the head."""
    import datetime

    import tibame_project_spark.sources.manifest as M
    from tibame_project_spark.sources.manifest import (
        manifest_history,
        version_as_of,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"], keep=10
    )
    append_manifest_table(spark, _mk(spark, [(1, 1)]), base, keep=10)
    ts = {r["version"]: r["ts"] for r in manifest_history(spark, base).collect()}
    assert ts[1] > ts[0] > 0
    # a clock REGRESSION between commits: stored ts must still advance
    monkeypatch.setattr(M, "_now_ms", lambda: ts[0] - 60_000)
    append_manifest_table(spark, _mk(spark, [(2, 2)]), base, keep=10)
    monkeypatch.undo()
    ts = {r["version"]: r["ts"] for r in manifest_history(spark, base).collect()}
    assert ts[2] == ts[1] + 1  # clamped to predecessor+1, not the skewed clock
    # resolution: exact stamp, between stamps, after head, before history
    assert version_as_of(spark, base, ts[0]) == 0
    assert version_as_of(spark, base, ts[1] - 1) == 0
    assert version_as_of(spark, base, ts[1]) == 1
    assert version_as_of(spark, base, ts[2] + 10**9) == 2
    with pytest.raises(ValueError, match="outside retention"):
        version_as_of(spark, base, ts[0] - 1)
    # read-side: content as of each instant; datetime accepted
    assert _content(spark, base, as_of=ts[1]) == {(0, 0), (1, 1)}
    when = datetime.datetime.fromtimestamp(
        ts[0] / 1000.0, tz=datetime.timezone.utc
    )
    assert _content(spark, base, as_of=when) == {(0, 0)}
    with pytest.raises(ValueError, match="at most one"):
        read_manifest_table(spark, base, version=1, as_of=ts[1])


def test_expire_txns_drops_only_stale_watermarks(spark, tmp_path, monkeypatch):
    """Bounded txn-map growth (Delta's setTransactionRetentionDuration as
    an explicit maintenance verb): a decommissioned stream's watermark
    expires by last-activity age; a live stream's survives because its
    own commits refresh the stamp. Expiry revokes replay protection for
    the dropped app — that's the documented contract — and publishes a
    real commit, so history records it and readers serialize against
    it."""
    import tibame_project_spark.sources.manifest as M
    from tibame_project_spark.sources.manifest import (
        expire_txns,
        last_txn_version,
        manifest_history,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"], keep=10
    )
    # fake stamps must sit ABOVE the real clock: the monotone clamp
    # (max(now, head_ts+1)) would silently override earlier ones
    import time as _time

    t0 = int(_time.time() * 1000) + 10**9
    monkeypatch.setattr(M, "_now_ms", lambda: t0)
    append_manifest_table(spark, _mk(spark, [(1, 1)]), base, txn=("old", 4), keep=10)
    monkeypatch.setattr(M, "_now_ms", lambda: t0 + 10_000)
    append_manifest_table(spark, _mk(spark, [(2, 2)]), base, txn=("live", 7), keep=10)
    monkeypatch.undo()
    # nothing stale at a wide horizon: no-op, head unchanged, no commit
    head = read_manifest_version(spark, base)
    assert expire_txns(spark, base, older_than_ms=60_000, keep=10) == (head, [])
    # "old" stamped 10 s before the head commit: a 5 s horizon drops it
    v, dropped = expire_txns(spark, base, older_than_ms=5_000, keep=10)
    assert dropped == ["old"] and v == head + 1
    assert last_txn_version(spark, base, "old") is None
    assert last_txn_version(spark, base, "live") == 7
    assert [r["op"] for r in manifest_history(spark, base).collect()][-1] == (
        "expire_txns"
    )
    # content untouched (metadata-only commit)
    assert _content(spark, base) == {(0, 0), (1, 1), (2, 2)}
    # the documented hazard: a replay of the EXPIRED app now re-applies
    append_manifest_table(spark, _mk(spark, [(9, 9)]), base, txn=("old", 4), keep=10)
    assert (9, 9) in _content(spark, base)


def test_string_stats_truncate_but_never_false_skip(spark, tmp_path):
    """String min/max in the manifest truncate to a bounded prefix
    (Delta's string-stat truncation): a stats column holding long text
    must not store document-sized values per file. Truncation only
    WIDENS the range — min becomes a prefix (lower bound), max gets
    U+10FFFF appended to its prefix (upper bound) — so pruned reads stay
    supersets: every row the exact predicate matches must survive any
    prune over the truncated stats."""
    from tibame_project_spark.sources.manifest import _STATS_STRING_MAX

    base = str(tmp_path / "t")
    rows = [
        (i, ("k%03d" % i) + "x" * 200)  # 200+ chars, distinct prefixes
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, doc string")
    write_manifest_table(
        spark, df, base, stats_cols=["id", "doc"], cluster_by="doc", n_files=4
    )
    man = manifest_stats(spark, base).collect()
    for r in man:
        assert len(r["min_doc"]) <= _STATS_STRING_MAX
        assert len(r["max_doc"]) <= _STATS_STRING_MAX + 1
        # bounds bracket the file's true values conservatively
        assert r["min_doc"] <= r["max_doc"]
    # a prune on the long column: the exact predicate's rows all survive
    want = {t for t in rows if t[1] >= "k030"}
    got = {
        tuple(r)
        for r in read_manifest_table(
            spark, base, prune="max_doc >= 'k030'"
        ).where("doc >= 'k030'").collect()
    }
    assert got == want
    # and the prune genuinely skips: low-key files drop out of the scan
    pruned = manifest_file_paths(spark, base, prune="max_doc >= 'k030'")
    assert 0 < len(pruned) < 4


def test_finish_fails_closed_on_head_meta_read_error(spark, tmp_path, monkeypatch):
    """A transient IO failure reading the head's meta during a commit
    must FAIL the commit, not fail open: continuing with an empty map
    would let a replayed txn re-apply AND write the new meta without the
    carried txns — erasing every application's replay protection. Only
    a vanished meta (head pruned by racing commits; its marker went
    with it, so the under-claim re-list rebases) is tolerable."""
    import tibame_project_spark.sources.manifest as M

    base = str(tmp_path / "t")
    write_manifest_table(spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"])
    append_manifest_table(spark, _mk(spark, [(1, 1)]), base, txn=("app", 3))

    real = M._meta
    boom = {"armed": False}

    def flaky(spark_, base_path, version):
        if boom["armed"]:
            boom["armed"] = False
            raise IOError("simulated object-store throttle")
        return real(spark_, base_path, version)

    monkeypatch.setattr(M, "_meta", flaky)
    boom["armed"] = True
    with pytest.raises(Exception, match="throttle"):
        append_manifest_table(spark, _mk(spark, [(2, 2)]), base)
    monkeypatch.undo()
    # nothing published by the failed attempt; watermarks intact
    assert read_manifest_version(spark, base) == 1
    from tibame_project_spark.sources.manifest import last_txn_version

    assert last_txn_version(spark, base, "app") == 3
    # and the replay protection still holds after a clean retry
    append_manifest_table(spark, _mk(spark, [(2, 2)]), base)
    assert append_manifest_table(
        spark, _mk(spark, [(9, 9)]), base, txn=("app", 3)
    ) == read_manifest_version(spark, base)
    assert (9, 9) not in _content(spark, base)


def test_stream_cdc_dv_bootstrap_replay_publishes_nothing(spark, tmp_path):
    """The DV-mode bootstrap records the BARE app_id while steady-state
    epochs ride <app>/u and <app>/d — a crash-replayed epoch 0 must
    still be a version-free no-op (the sink consults the bare watermark
    before routing the batch), not a phantom merge+delete pair."""
    import glob
    import os

    from tibame_project_spark.streaming.incremental import (
        stream_cdc_apply_manifest,
    )

    src = tmp_path / "feed"
    base = str(tmp_path / "mantab")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, name string, v long, dead boolean"
    spark.createDataFrame(
        [(1, "a", 10, False), (2, "b", 20, True)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        stream_cdc_apply_manifest(
            stream, base, "id", checkpoint=ckpt, delete_col="dead",
            delete_via_dv=True, app_id="cdc", keep=10,
        )

    run()  # epoch 0 bootstraps (tombstone stripped)
    assert read_manifest_version(spark, base) == 0
    commits = sorted(
        (
            p
            for p in glob.glob(os.path.join(ckpt, "commits", "*"))
            if os.path.basename(p).isdigit()
        ),
        key=lambda p: int(os.path.basename(p)),
    )
    os.remove(commits[-1])
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    run()  # re-delivers epoch 0
    assert read_manifest_version(spark, base) == 0  # no phantom versions
    assert {
        tuple(r) for r in read_manifest_table(spark, base).collect()
    } == {(1, "a", 10)}


def test_check_constraints_gate_every_writer(spark, tmp_path):
    """Persisted CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT):
    stored in table meta, enforced by EVERY commit gate — a writer that
    forgets expect= can no longer land violating rows. SQL CHECK
    semantics (FALSE violates, NULL passes), tombstones exempt in merge
    batches, add validates existing data first, drop stops enforcement,
    and an evolve renaming a constrained column refuses."""
    from tibame_project_spark.sources.manifest import (
        add_manifest_constraint,
        delete_manifest_table,
        drop_manifest_constraint,
        evolve_manifest_table,
        manifest_constraints,
        manifest_history,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(10)]), base,
        stats_cols=["id"], keep=20, constraints={"v_nonneg": "v >= 0"},
    )
    assert manifest_constraints(spark, base) == {"v_nonneg": "v >= 0"}
    # a create whose own data violates refuses to publish
    with pytest.raises(ValueError, match="check\\(v_nonneg\\)"):
        write_manifest_table(
            spark, _mk(spark, [(0, -1)]), str(tmp_path / "bad"),
            stats_cols=["id"], constraints={"v_nonneg": "v >= 0"},
        )
    # append: no expect= passed, the persisted constraint still gates
    with pytest.raises(ValueError, match="check\\(v_nonneg\\)"):
        append_manifest_table(spark, _mk(spark, [(100, -5)]), base, keep=20)
    assert read_manifest_version(spark, base) == 0  # nothing published
    append_manifest_table(spark, _mk(spark, [(100, 5)]), base, keep=20)
    # merge: violating upsert refuses; tombstone rows are exempt
    with pytest.raises(ValueError, match="check\\(v_nonneg\\)"):
        merge_manifest_table(
            spark,
            spark.createDataFrame([(3, -1, False)], "id long, v long, dead boolean"),
            base, "id", delete_col="dead", keep=20,
        )
    merge_manifest_table(
        spark,
        spark.createDataFrame(
            [(3, 333, False), (4, None, True)], "id long, v long, dead boolean"
        ),
        base, "id", delete_col="dead", keep=20,
    )
    assert (3, 333) in _content(spark, base) and (4, 4) not in _content(spark, base)
    # NULL passes CHECK (SQL semantics): a null v is not a violation
    append_manifest_table(
        spark,
        spark.createDataFrame([(200, None)], "id long, v long"),
        base, keep=20,
    )
    # add: validates the EXISTING table first (null row makes v<=400 fine,
    # but a bound the data violates refuses without committing)
    head = read_manifest_version(spark, base)
    with pytest.raises(ValueError, match="existing rows violate"):
        add_manifest_constraint(spark, base, "v_small", "v <= 300", keep=20)
    assert read_manifest_version(spark, base) == head
    add_manifest_constraint(spark, base, "v_cap", "v <= 400", keep=20)
    assert [r["op"] for r in manifest_history(spark, base).collect()][-1] == (
        "add_constraint(v_cap)"
    )
    with pytest.raises(ValueError, match="check\\(v_cap\\)"):
        append_manifest_table(spark, _mk(spark, [(300, 401)]), base, keep=20)
    # evolve refuses to rename a constrained column
    with pytest.raises(ValueError, match="referenced by CHECK"):
        evolve_manifest_table(spark, base, rename={"v": "val"}, keep=20)
    # drop stops enforcement; unknown drop raises
    drop_manifest_constraint(spark, base, "v_cap", keep=20)
    with pytest.raises(ValueError, match="no constraint"):
        drop_manifest_constraint(spark, base, "v_cap", keep=20)
    append_manifest_table(spark, _mk(spark, [(300, 401)]), base, keep=20)
    # v_nonneg still enforced after unrelated commits (carry-forward);
    # deletes never constraint-check (they only remove)
    delete_manifest_table(
        spark, _mk(spark, [(300, 0)]).select("id"), base, "id", keep=20
    )
    with pytest.raises(ValueError, match="check\\(v_nonneg\\)"):
        append_manifest_table(spark, _mk(spark, [(301, -1)]), base, keep=20)


def test_constraint_change_mid_flight_refuses_unvalidated_rows(
    spark, tmp_path, monkeypatch
):
    """An add_manifest_constraint is a zero-file-edit commit the rebase
    path alone would wave through — but rows staged (or prepared) BEFORE
    it were never gated against the new rule. The audit refuses (stale,
    like a schema race), publish refuses under its claim, and even a
    DIRECT merge racing the add between its gate and its claim refuses —
    so no unvalidated row can ever land."""
    import tibame_project_spark.sources.manifest as M
    from tibame_project_spark.sources.manifest import (
        ConcurrentCommitError,
        add_manifest_constraint,
        publish_staged_manifest,
        read_staged_manifest,
        stage_merge_manifest_table,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(10)]), base,
        stats_cols=["id"], keep=20,
    )
    # stage rows a future constraint forbids, then land that constraint
    token = stage_merge_manifest_table(
        spark, _mk(spark, [(3, -5)]), base, "id"
    )
    add_manifest_constraint(spark, base, "v_nonneg", "v >= 0", keep=20)
    with pytest.raises(ConcurrentCommitError, match="CHECK constraint set"):
        read_staged_manifest(spark, base, token)
    with pytest.raises(ConcurrentCommitError, match="CHECK constraint set"):
        publish_staged_manifest(spark, base, token, keep=20)
    assert (3, -5) not in _content(spark, base)
    # direct merge racing the add between gate and claim: refused too
    def race():
        add_manifest_constraint(spark, base, "v_cap", "v <= 1000", keep=20)

    monkeypatch.setattr(M, "_TEST_PRECLAIM_HOOK", race)
    with pytest.raises(ConcurrentCommitError, match="CHECK constraint set"):
        merge_manifest_table(spark, _mk(spark, [(4, 444)]), base, "id", keep=20)
    assert M._TEST_PRECLAIM_HOOK is None
    # the retry validates against the new set and lands
    merge_manifest_table(spark, _mk(spark, [(4, 444)]), base, "id", keep=20)
    assert (4, 444) in _content(spark, base)


def test_stream_append_sink_creates_constraints_and_enforces_them(
    spark, tmp_path
):
    """The exactly-once sink persists CHECK constraints at bootstrap, so
    the stream's own later batches — and any other writer — are gated:
    a violating batch fails the stream (at-least-once redelivery would
    just re-fail, the documented fix-upstream contract) and publishes
    nothing."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from tibame_project_spark.sources.manifest import manifest_constraints
    from tibame_project_spark.streaming.incremental import (
        stream_append_manifest_table,
    )

    src = tmp_path / "src"
    base, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    _mk(spark, [(1, 1), (2, 2)]).coalesce(1).write.mode("append").parquet(
        str(src)
    )

    def run():
        stream = spark.readStream.schema("id long, v long").parquet(str(src))
        stream_append_manifest_table(
            stream, base, checkpoint=ckpt, stats_cols=["id"],
            app_id="ingest", keep=10, constraints={"v_nonneg": "v >= 0"},
        )

    run()
    assert manifest_constraints(spark, base) == {"v_nonneg": "v >= 0"}
    _mk(spark, [(3, -3)]).coalesce(1).write.mode("append").parquet(str(src))
    with pytest.raises(StreamingQueryException, match="v_nonneg"):
        run()
    assert _content(spark, base) == {(1, 1), (2, 2)}  # nothing landed


def test_stream_append_sink_refuses_unpersisted_constraints_on_existing_table(
    spark, tmp_path
):
    """``constraints=`` only persists at table CREATION; pointing the
    sink at a pre-created table must fail closed instead of silently
    dropping the argument — a caller who believed CHECK enforcement was
    installed when nothing was persisted is the worst failure mode for
    a safety feature. The error names the management verb; installing
    the constraint for real unblocks the same stream unchanged."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from tibame_project_spark.sources.manifest import add_manifest_constraint
    from tibame_project_spark.streaming.incremental import (
        stream_append_manifest_table,
    )

    base, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    src = tmp_path / "src"
    _mk(spark, [(1, 1)]).coalesce(1).write.mode("append").parquet(str(src))
    # the table pre-exists, created WITHOUT constraints by another writer
    write_manifest_table(
        spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"], keep=10
    )

    def run():
        stream = spark.readStream.schema("id long, v long").parquet(str(src))
        stream_append_manifest_table(
            stream, base, checkpoint=ckpt, stats_cols=["id"],
            app_id="ingest", keep=10, constraints={"v_nonneg": "v >= 0"},
        )

    with pytest.raises(StreamingQueryException, match="add_manifest_constraint"):
        run()
    assert _content(spark, base) == {(0, 0)}  # nothing landed
    add_manifest_constraint(spark, base, "v_nonneg", "v >= 0", keep=10)
    run()  # persisted set now satisfies the request: the stream proceeds
    assert _content(spark, base) == {(0, 0), (1, 1)}


def test_cdc_replayed_epoch_still_runs_scheduled_compaction(spark, tmp_path):
    """A watermark-replayed epoch skips its merge/delete jobs but must
    NOT skip a compaction fold scheduled for that epoch — an early
    return there would defer the fold a full compact_every cycle, and
    the fold is fixpoint-safe to replay. Forced here by accumulating
    small files with compaction off, losing the newest commit-log ack,
    and restarting with compact_every=1: the re-delivered epoch no-ops
    its merge (head txn watermark already covers it) yet still folds."""
    import glob
    import os

    from tibame_project_spark.sources.manifest import (
        last_txn_version,
        manifest_history,
        manifest_stats,
    )
    from tibame_project_spark.streaming.incremental import (
        stream_cdc_apply_manifest,
    )

    src = tmp_path / "feed"
    base, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    for i in range(3):  # one file per micro-batch; disjoint key ranges
        _mk(spark, [(i * 10 + j, i) for j in range(5)]).coalesce(
            1
        ).write.mode("append").parquet(str(src))

    def run(compact_every=None):
        stream = (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        stream_cdc_apply_manifest(
            stream, base, "id", checkpoint=ckpt, app_id="cdc", keep=10,
            compact_every=compact_every,
        )

    run()  # compaction off: each epoch's insert lands as its own file
    head_before = read_manifest_version(spark, base)
    files_before = manifest_stats(spark, base).count()
    assert files_before >= 2  # something for the fold to do
    commits = sorted(
        (p for p in glob.glob(os.path.join(ckpt, "commits", "*"))
         if os.path.basename(p).isdigit()),
        key=lambda p: int(os.path.basename(p)),
    )
    os.remove(commits[-1])
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    run(compact_every=1)  # replayed epoch: merge no-ops, fold still runs
    hist = [r["op"] for r in manifest_history(spark, base).collect()]
    assert hist[-1] == "compact"
    assert read_manifest_version(spark, base) == head_before + 1
    assert manifest_stats(spark, base).count() < files_before
    assert last_txn_version(spark, base, "cdc") == 2  # watermark untouched
    assert _content(spark, base) == {
        (i * 10 + j, i) for i in range(3) for j in range(5)
    }


def test_version_as_of_never_resolves_to_unstamped_commits(spark, tmp_path):
    """On an upgraded table whose oldest retained commits predate commit
    timestamps, an as_of earlier than every stamped commit must RAISE —
    defaulting the missing stamp to 0 would silently resolve to the
    newest legacy commit, whose real wall-clock time is unknown."""
    import json

    from tibame_project_spark.sources.manifest import _meta, version_as_of

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"], keep=10
    )
    append_manifest_table(spark, _mk(spark, [(1, 1)]), base, keep=10)
    ts1 = int(_meta(spark, base, 1)["ts"])
    # strip v0's stamp in place: the pre-feature meta shape
    meta_path = tmp_path / "t" / "meta" / "v=0.json"
    m = json.loads(meta_path.read_text())
    del m["ts"]
    meta_path.write_text(json.dumps(m))
    crc = meta_path.parent / ".v=0.json.crc"
    if crc.exists():  # local-FS checksum sidecar of the original bytes
        crc.unlink()
    assert version_as_of(spark, base, ts1) == 1  # stamped commits resolve
    with pytest.raises(ValueError, match="no retained commit"):
        version_as_of(spark, base, ts1 - 1)  # only legacy commits qualify


def test_rename_guard_matches_constraints_case_insensitively(spark, tmp_path):
    """Spark SQL resolves columns case-insensitively by default, so a
    CHECK written ``ID > 0`` really references column ``id`` — the
    rename-vs-constraint guard must block renaming ``id`` even though
    the cases differ, or every later commit gate fails with a
    resolution error far from the cause."""
    from tibame_project_spark.sources.manifest import (
        add_manifest_constraint,
        evolve_manifest_table,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=10
    )
    add_manifest_constraint(spark, base, "id_pos", "ID > 0", keep=10)
    with pytest.raises(ValueError, match="id_pos"):
        evolve_manifest_table(spark, base, rename={"id": "key"}, keep=10)
    # the unreferenced column still renames freely
    evolve_manifest_table(spark, base, rename={"v": "val"}, keep=10)


def test_arrow_metadata_fast_paths_on_registered_remote_scheme(spark, tmp_path):
    """The driver-side Arrow metadata tier must hold where a 100 TB
    table actually lives: schemes pyarrow's from_uri doesn't speak
    plug in through register_arrow_fs. A SubTreeFileSystem stands in
    for the remote store under a scheme Hadoop does NOT know ('mock'),
    so every assertion below can only pass through the pyarrow path —
    a silent fall-through to the JVM filesystem would raise instead.
    Bytes-equivalence with the local tier is asserted for all three
    fast paths: meta reads, manifest loads, and the pre-claim commit-
    manifest materialization."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    import tibame_project_spark.sources.manifest as M

    base_local = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(0, 0), (1, 1)]), base_local,
        stats_cols=["id"], keep=10,
    )

    def resolver(path):
        rel = path[len("mock://store/"):]
        return (
            pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem()),
            rel,
        )

    prev = M.register_arrow_fs("mock", resolver)
    try:
        mock_base = "mock://store/t"
        # commit-meta read: same dict through the remote scheme
        assert M._meta(spark, mock_base, 0) == M._meta(spark, base_local, 0)
        # manifest load: same relation through the remote scheme
        tbl = M._load_manifest(spark, mock_base, 0)
        local_tbl = M._load_manifest(spark, base_local, 0)
        assert tbl.sort_by("path").equals(local_tbl.sort_by("path"))
        # materialization: the pre-claim manifest write lands through
        # the registered fs, same rows as the local writer would produce
        M._materialize_manifest(spark, local_tbl, mock_base, "manifest/tmp_mock")
        out = tmp_path / "t" / "manifest" / "tmp_mock" / "part-00000.parquet"
        assert out.exists()
        assert pq.read_table(str(out)).num_rows == local_tbl.num_rows
    finally:
        if prev is None:
            del M._ARROW_FS_RESOLVERS["mock"]
        else:
            M.register_arrow_fs("mock", prev)


def test_arrow_metadata_tier_falls_back_on_unresolvable_scheme():
    """A scheme neither pyarrow nor a registered resolver speaks must
    resolve to None — the documented signal for the distributed
    Spark read/write fallback — never raise out of the seam."""
    import tibame_project_spark.sources.manifest as M

    assert M._arrow_fs("noconnector://bucket/t") is None
    assert M._write_arrow_parquet("noconnector://bucket/t", "manifest_tmp/x", None) is False


def test_drop_column_is_metadata_only_and_never_resurrects(spark, tmp_path):
    """DROP COLUMN (Delta's column-mapping drop): a metadata-only commit
    — zero data files rewritten — after which reads project the column
    away across every schema era, its min/max stats leave the manifest,
    and a column RE-ADDED later under the same name gets a FRESH field
    id: old files' retired values must read as NULL, never resurrect as
    the new column. Compaction then materializes the drop physically."""
    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import (
        compact_manifest_table,
        evolve_manifest_table,
    )

    base = str(tmp_path / "t")
    rows = local_rows_df(
        spark, [(0, 10, 0.5), (1, 11, 1.5)], "id long, v long, score double"
    )
    write_manifest_table(spark, rows, base, stats_cols=["id", "v"], keep=20)
    files_before = sorted(
        r["path"] for r in manifest_stats(spark, base).collect()
    )
    evolve_manifest_table(spark, base, drop=["v"], keep=20)
    # metadata-only: the live file set is bit-identical
    assert sorted(
        r["path"] for r in manifest_stats(spark, base).collect()
    ) == files_before
    got = read_manifest_table(spark, base)
    assert got.columns == ["id", "score"]
    assert {tuple(r) for r in got.collect()} == {(0, 0.5), (1, 1.5)}
    # the dropped column's stats left the manifest with it
    man_cols = manifest_stats(spark, base).columns
    assert "min_v" not in man_cols and "max_v" not in man_cols
    assert "min_id" in man_cols  # surviving stats intact
    # re-add the NAME: fresh field id — old rows are NULL, not resurrected
    append_manifest_table(
        spark,
        local_rows_df(spark, [(2, 0.0, 99)], "id long, score double, v long"),
        base, allow_evolution=True, keep=20,
    )
    vals = {
        (r["id"], r["v"])
        for r in read_manifest_table(spark, base).collect()
    }
    assert vals == {(0, None), (1, None), (2, 99)}
    # compaction rewrites every straggler to the head schema: the drop
    # becomes physical and the read stays identical
    compact_manifest_table(spark, base, keep=20)
    vals2 = {
        (r["id"], r["v"])
        for r in read_manifest_table(spark, base).collect()
    }
    assert vals2 == vals


def test_drop_column_refusals_guard_table_integrity(spark, tmp_path):
    """The drops that would corrupt state are refused loudly: unknown
    columns, dropping everything, drop+rename of one column in one
    evolution, the deletion-vector key (sidecars join on it), and
    columns a persisted CHECK constraint references."""
    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import (
        add_manifest_constraint,
        delete_manifest_table,
        evolve_manifest_table,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(0, 0), (1, 1)]), base, stats_cols=["id"], keep=20
    )
    with pytest.raises(ValueError, match="no such column"):
        evolve_manifest_table(spark, base, drop=["nope"], keep=20)
    with pytest.raises(ValueError, match="every column"):
        evolve_manifest_table(spark, base, drop=["id", "v"], keep=20)
    with pytest.raises(ValueError, match="dropped and renamed"):
        evolve_manifest_table(
            spark, base, drop=["v"], rename={"v": "w"}, keep=20
        )
    add_manifest_constraint(spark, base, "v_nonneg", "v >= 0", keep=20)
    with pytest.raises(ValueError, match="v_nonneg"):
        evolve_manifest_table(spark, base, drop=["v"], keep=20)
    # a DV delete pins the key column
    delete_manifest_table(
        spark, local_rows_df(spark, [(0,)], "id long"), base, "id", keep=20
    )
    with pytest.raises(ValueError, match="deletion-vector key"):
        evolve_manifest_table(spark, base, drop=["id"], keep=20)


def test_required_features_refuse_engines_that_lack_them(spark, tmp_path):
    """Delta's protocol/table-features design on the manifest tier: a
    table whose head commit REQUIRES a feature this engine doesn't
    implement is refused for both read and write — silently ignoring a
    deletion-vector or column-mapping feature would resurrect deleted
    rows or misread renamed columns. Forced by stamping an unknown
    feature into the head meta the way a future engine version would."""
    import json

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"], keep=10
    )
    head = read_manifest_version(spark, base)
    meta_path = tmp_path / "t" / "meta" / f"v={head}.json"
    m = json.loads(meta_path.read_text())
    m["require"] = list(m.get("require", [])) + ["vector-clustering-v9"]
    meta_path.write_text(json.dumps(m))
    crc = meta_path.parent / f".v={head}.json.crc"
    if crc.exists():
        crc.unlink()
    with pytest.raises(ValueError, match="vector-clustering-v9"):
        read_manifest_table(spark, base)
    with pytest.raises(ValueError, match="vector-clustering-v9"):
        append_manifest_table(spark, _mk(spark, [(1, 1)]), base, keep=10)
    with pytest.raises(ValueError, match="vector-clustering-v9"):
        compact_manifest_table(spark, base, keep=10)
    # the raw manifest (paths/bytes/stats) stays listable by design — a
    # diagnostic surface that interprets no feature-gated state
    assert manifest_stats(spark, base).count() >= 1


def test_required_features_track_state_and_self_heal(spark, tmp_path):
    """The require list is recomputed from what each commit's state
    actually carries: it appears when a gated feature first lands
    (txn watermark, CHECK constraint, schema era, deletion vector) and
    retires when the state stops needing it — so an old engine is only
    locked out of tables that truly use newer features."""
    import json

    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import (
        _meta,
        add_manifest_constraint,
        delete_manifest_table,
        drop_manifest_constraint,
        evolve_manifest_table,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(0, 0), (1, 1)]), base, stats_cols=["id"], keep=20
    )

    def req():
        head = read_manifest_version(spark, base)
        return set(_meta(spark, base, head).get("require") or [])

    assert req() == set()  # plain table: nothing required
    append_manifest_table(
        spark, _mk(spark, [(2, 2)]), base, keep=20, txn=("app", 0)
    )
    assert req() == {"txn-watermarks"}
    evolve_manifest_table(spark, base, rename={"v": "val"}, keep=20)
    assert req() == {"txn-watermarks", "column-mapping"}
    add_manifest_constraint(spark, base, "v_ok", "val >= 0", keep=20)
    assert req() == {"txn-watermarks", "column-mapping", "check-constraints"}
    delete_manifest_table(
        spark, local_rows_df(spark, [(0,)], "id long"), base, "id", keep=20
    )
    assert "deletion-vectors" in req()
    drop_manifest_constraint(spark, base, "v_ok", keep=20)
    assert "check-constraints" not in req()  # self-heals on retirement


def test_shallow_clone_zero_copy_reads_and_diverges(spark, tmp_path):
    """SHALLOW CLONE: the clone's v0 references the source's files in
    place (zero data bytes copied), reads identically — including
    through the source's deletion vectors — and then diverges freely:
    appends, DV deletes on SHARED files, and compaction all land under
    the clone and never touch the source. The copied CHECK constraint
    keeps gating the clone's writers."""
    import os as _os

    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import (
        add_manifest_constraint,
        clone_manifest_table,
        compact_manifest_table,
        delete_manifest_table,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    write_manifest_table(
        spark, _mk(spark, [(0, 0), (1, 1)]), src, stats_cols=["id"], keep=20
    )
    append_manifest_table(spark, _mk(spark, [(2, 2), (3, 3)]), src, keep=20)
    add_manifest_constraint(spark, src, "v_nonneg", "v >= 0", keep=20)
    # a source-side DV so the clone inherits dv_path references too
    delete_manifest_table(
        spark, local_rows_df(spark, [(1,)], "id long"), src, "id", keep=20
    )
    assert clone_manifest_table(spark, src, dst, keep=20) == 0
    # zero copy: the clone holds no data files of its own yet
    assert not _os.path.isdir(_os.path.join(dst, "data"))
    assert _content(spark, dst) == {(0, 0), (2, 2), (3, 3)}
    assert _content(spark, dst) == _content(spark, src)
    # divergence 1: append lands under the clone only
    append_manifest_table(spark, _mk(spark, [(9, 9)]), dst, keep=20)
    assert (9, 9) in _content(spark, dst)
    assert (9, 9) not in _content(spark, src)
    # divergence 2: DV delete of a row in a SHARED (source-owned) file —
    # the sidecar lands under the clone, keyed by the trailing path form
    delete_manifest_table(
        spark, local_rows_df(spark, [(2,)], "id long"), dst, "id", keep=20
    )
    assert _content(spark, dst) == {(0, 0), (3, 3), (9, 9)}
    assert _content(spark, src) == {(0, 0), (2, 2), (3, 3)}  # untouched
    # the copied constraint still gates the clone's writers
    with pytest.raises(ValueError, match="v_nonneg"):
        append_manifest_table(spark, _mk(spark, [(8, -8)]), dst, keep=20)
    # compaction localizes: every live file moves under the clone's root
    compact_manifest_table(spark, dst, keep=20)
    paths = [r["path"] for r in manifest_stats(spark, dst).collect()]
    assert all(not p.startswith("/") and "://" not in p for p in paths)
    assert _content(spark, dst) == {(0, 0), (3, 3), (9, 9)}
    # vacuum on the clone sweeps only its own root: source files survive
    vacuum_manifest_table(spark, dst, min_age_s=0)
    assert _content(spark, src) == {(0, 0), (2, 2), (3, 3)}


def test_shallow_clone_pins_version_and_drops_txn_identity(spark, tmp_path):
    """Cloning a PINNED version snapshots that state even after the
    source evolves past it; the clone never inherits the source's txn
    watermarks (a new table identity must not swallow a stream's first
    batches); cloning onto an existing table refuses."""
    from tibame_project_spark.sources.manifest import (
        clone_manifest_table,
        evolve_manifest_table,
        last_txn_version,
    )

    src = str(tmp_path / "src")
    write_manifest_table(
        spark, _mk(spark, [(0, 0)]), src, stats_cols=["id"], keep=20
    )
    append_manifest_table(
        spark, _mk(spark, [(1, 1)]), src, keep=20, txn=("ingest", 7)
    )
    evolve_manifest_table(spark, src, rename={"v": "val"}, keep=20)
    dst0 = str(tmp_path / "dst0")
    clone_manifest_table(spark, src, dst0, version=0, keep=20)
    got = read_manifest_table(spark, dst0)
    assert got.columns == ["id", "v"]  # pre-evolution schema, pinned
    assert {tuple(r) for r in got.collect()} == {(0, 0)}
    dst = str(tmp_path / "dst")
    clone_manifest_table(spark, src, dst, keep=20)
    assert read_manifest_table(spark, dst).columns == ["id", "val"]
    assert last_txn_version(spark, dst, "ingest") is None
    # replay protection belongs to the SOURCE: the same epoch applies
    # fresh on the clone (and starts the clone's own watermark)
    append_manifest_table(
        spark, _mk(spark, [(7, 7)], "id long, val long"), dst,
        keep=20, txn=("ingest", 7),
    )
    assert (7, 7) in {
        tuple(r) for r in read_manifest_table(spark, dst).collect()
    }
    with pytest.raises(ValueError, match="already holds"):
        clone_manifest_table(spark, src, dst, keep=20)


def test_racing_clones_to_one_destination_serialize(spark, tmp_path):
    """Two writers shallow-cloning the same source into the same
    destination race on the destination's v0 commit: exactly one may
    win (create commits are exclusive), the loser surfaces loudly, and
    the winner's clone reads the pinned source content exactly —
    never a torn mix of two v0 attempts."""
    import threading

    from tibame_project_spark.sources.manifest import (
        ConcurrentCommitError,
        clone_manifest_table,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    write_manifest_table(
        spark, _mk(spark, [(0, 0), (1, 1)]), src, stats_cols=["id"], keep=10
    )
    outcomes = []

    def racer():
        try:
            clone_manifest_table(spark, src, dst, keep=10)
            outcomes.append("won")
        except (ConcurrentCommitError, ValueError):
            outcomes.append("lost")

    threads = [threading.Thread(target=racer) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(outcomes) == ["lost", "won"]
    assert _content(spark, dst) == {(0, 0), (1, 1)}


def test_update_rewrites_only_matching_files(spark, tmp_path):
    """UPDATE ... SET on the manifest tier: a predicate confined to one
    clustered file's key range rewrites exactly that file — every other
    live file carries forward verbatim — and the result equals the
    relational UPDATE. Assignments see ORIGINAL values (the swap case),
    cast back to the column's declared type so the schema never drifts,
    and NULL-predicate rows stay untouched."""
    from tibame_project_spark.sources.manifest import (
        manifest_history,
        update_manifest_table,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(30)]), base,
        stats_cols=["id"], cluster_by="id", n_files=3, keep=10,
    )
    before = {r["path"] for r in manifest_stats(spark, base).collect()}
    assert len(before) == 3
    v = update_manifest_table(
        spark, base, {"v": "v + 100 + v"}, "id >= 25", keep=10,
    )
    assert v == 1
    after = {r["path"] for r in manifest_stats(spark, base).collect()}
    # two files carried forward as metadata; one rewritten
    assert len(before & after) == 2 and len(after - before) == 1
    assert _content(spark, base) == {
        (i, i) for i in range(25)
    } | {(i, 2 * i + 100) for i in range(25, 30)}
    assert [r["op"] for r in manifest_history(spark, base).collect()][-1] == (
        "update"
    )
    # long column stays long even though the expression could widen
    assert dict(read_manifest_table(spark, base).dtypes)["v"] == "bigint"
    # prune= collapses the candidate scan and must not change the result
    update_manifest_table(
        spark, base, {"v": "0"}, "id < 3", prune="min_id < 3", keep=10
    )
    assert {(0, 0), (1, 0), (2, 0)} <= _content(spark, base)


def test_update_applies_deletion_vectors_and_respects_constraints(
    spark, tmp_path
):
    """An UPDATE rewriting a deletion-vectored file applies the vector
    (condemned rows never resurrect; the rewritten file comes out
    vector-free), no-ops without a commit when nothing matches, and
    refuses — publishing nothing — when the assignment would violate a
    persisted CHECK constraint."""
    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import (
        add_manifest_constraint,
        delete_manifest_table,
        update_manifest_table,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(0, 0), (1, 1), (2, 2)]), base,
        stats_cols=["id"], n_files=1, keep=10,  # one file: the DV'd file
    )                                           # IS the update candidate
    add_manifest_constraint(spark, base, "v_small", "v < 1000", keep=10)
    delete_manifest_table(
        spark, local_rows_df(spark, [(1,)], "id long"), base, "id", keep=10
    )
    head = read_manifest_version(spark, base)
    # no-match: head unchanged, no commit published
    assert update_manifest_table(
        spark, base, {"v": "v"}, "id = 999", keep=10
    ) == head
    # the update hits the DV'd file: vector applied, row 1 stays gone
    v = update_manifest_table(spark, base, {"v": "v + 10"}, "id = 0", keep=10)
    assert v == head + 1
    assert _content(spark, base) == {(0, 10), (2, 2)}
    assert all(
        r["dv_path"] is None for r in manifest_stats(spark, base).collect()
    )
    # a violating assignment refuses with nothing published
    with pytest.raises(ValueError, match="v_small"):
        update_manifest_table(spark, base, {"v": "v + 10000"}, "id = 0", keep=10)
    assert read_manifest_version(spark, base) == v
    assert _content(spark, base) == {(0, 10), (2, 2)}


def test_update_with_txn_watermark_is_replay_safe(spark, tmp_path):
    """UPDATE carries the same idempotent-transaction watermark as the
    other writers: a redelivered update batch no-ops against the app's
    high-water mark instead of re-applying (doubling `v + 10` twice
    would corrupt), and the head version stays put."""
    from tibame_project_spark.sources.manifest import update_manifest_table

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(0, 0), (1, 1)]), base, stats_cols=["id"], keep=10
    )
    v = update_manifest_table(
        spark, base, {"v": "v + 10"}, "id = 0", keep=10, txn=("upd", 3)
    )
    assert _content(spark, base) == {(0, 10), (1, 1)}
    # the replay: same app, same (or lower) version — zero effect
    assert update_manifest_table(
        spark, base, {"v": "v + 10"}, "id = 0", keep=10, txn=("upd", 3)
    ) == v
    assert _content(spark, base) == {(0, 10), (1, 1)}


def test_vacuum_dry_run_counts_without_deleting(spark, tmp_path):
    """VACUUM ... DRY RUN: the same unreferenced-file walk, same count,
    zero deletions — then the real vacuum deletes exactly what the dry
    run predicted and a second dry run reports a clean table."""
    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(0, 0)]), base, stats_cols=["id"], keep=1
    )
    # two full refreshes at keep=1 prune v0's metadata: its file strands
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=1
    )
    write_manifest_table(
        spark, _mk(spark, [(2, 2)]), base, stats_cols=["id"], keep=1
    )
    before = _content(spark, base)
    predicted = vacuum_manifest_table(spark, base, dry_run=True)
    assert predicted >= 1
    assert _content(spark, base) == before  # nothing touched
    assert vacuum_manifest_table(spark, base) == predicted
    assert vacuum_manifest_table(spark, base, dry_run=True) == 0
    assert _content(spark, base) == before


def test_merge_schema_evolution_widens_on_flag_and_refuses_silently_dropping(
    spark, tmp_path
):
    """MERGE with schema evolution (Delta's withSchemaEvolution): an
    extra batch column REFUSES without the flag — before this guard the
    relational merge silently projected it away, the worst outcome for
    a CDC source that just added a field — and with
    ``allow_evolution=True`` widens the schema as a new era: rewritten
    candidates carry the column, untouched files read it NULL-filled,
    and a later full-schema merge behaves normally."""
    from tibame_project_spark.localdf import local_rows_df

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(20)]), base,
        stats_cols=["id"], cluster_by="id", n_files=2, keep=10,
    )
    batch = local_rows_df(
        spark, [(0, 100, "x"), (50, 500, "y")], "id long, v long, w string"
    )
    with pytest.raises(ValueError, match="allow_evolution"):
        merge_manifest_table(spark, batch, base, "id", keep=10)
    merge_manifest_table(
        spark, batch, base, "id", keep=10, allow_evolution=True
    )
    got = read_manifest_table(spark, base)
    assert got.columns == ["id", "v", "w"]
    rows = {(r["id"], r["v"], r["w"]) for r in got.collect()}
    assert (0, 100, "x") in rows and (50, 500, "y") in rows  # update+insert
    assert (15, 15, None) in rows  # untouched file: NULL-filled new column
    # the widened schema is now the standing contract for plain merges
    merge_manifest_table(
        spark,
        local_rows_df(spark, [(1, 11, "z")], "id long, v long, w string"),
        base, "id", keep=10,
    )
    assert (1, 11, "z") in {
        (r["id"], r["v"], r["w"])
        for r in read_manifest_table(spark, base).collect()
    }


# ---------------------------------------------------------------------------
# atomic metadata publish (the feed-cursor durability barrier)
# ---------------------------------------------------------------------------


def test_cursor_publish_is_atomic_under_concurrent_polling(spark, tmp_path):
    """A raw (retry-free) poller racing a producer's cursor publishes must
    never observe empty or torn JSON: _write_text publishes via temp +
    atomic rename, so the only observable states are the previous value
    and the new value. This is the witnessed r12 flake — a consumer
    polling the cursor hit JSONDecodeError mid-publish."""
    import json as _json
    import threading

    from tibame_project_spark.sources.manifest import _read_text, _write_text

    state = str(tmp_path / "cursor.json")
    _write_text(spark, state, _json.dumps({"version": 0}))

    seen: list[int] = []
    bad: list[str] = []
    stop = threading.Event()

    def poll() -> None:
        while not stop.is_set():
            raw = _read_text(spark, state)
            try:
                seen.append(_json.loads(raw)["version"])
            except ValueError:
                bad.append(raw)
                return

    t = threading.Thread(target=poll, daemon=True)
    t.start()
    # keep publishing until the poller has raced enough reads (the JVM
    # read round-trip is ~100x slower than an os.replace publish)
    v = 0
    while not bad and len(seen) < 8 and v < 50_000:
        v += 1
        _write_text(spark, state, _json.dumps({"version": v}))
    stop.set()
    t.join(timeout=30)
    assert not bad, f"poller observed torn cursor content: {bad[:3]!r}"
    # the poller raced real publishes (not a vacuous pass) and versions
    # were observed monotonically — no stale-after-fresh reordering
    assert len(seen) >= 8
    assert seen == sorted(seen)


def test_torn_cursor_read_recovers_once_repaired(spark, tmp_path):
    """_read_json_poll bounded-retries over empty/torn content (the
    object-store fallback window) and succeeds when a concurrent
    publisher lands the full value within the retry budget."""
    import json as _json
    import threading

    from tibame_project_spark.sources.manifest import (
        _read_json_poll,
        _write_text,
    )

    state = str(tmp_path / "cursor.json")
    (tmp_path / "cursor.json").write_text("")  # torn: crash mid-create

    def repair() -> None:
        _write_text(spark, state, _json.dumps({"version": 7}))

    t = threading.Timer(0.2, repair)
    t.start()
    try:
        assert _read_json_poll(
            spark, state, "feed cursor", attempts=20
        )["version"] == 7
    finally:
        t.cancel()


def test_permanently_truncated_cursor_diagnoses_not_json_error(spark, tmp_path):
    """A cursor left truncated forever (pre-atomic-publish crash) must
    exhaust the bounded retries and surface a diagnosis naming the file
    and the recovery, not a bare JSONDecodeError — both through the feed
    and through the consumer drain loop."""
    from tibame_project_spark.sources.manifest import manifest_feed
    from tibame_project_spark.streaming.incremental import (
        consume_manifest_feed,
    )

    base = str(tmp_path / "t")
    state = str(tmp_path / "cursor.json")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=5
    )
    (tmp_path / "cursor.json").write_text("{\"vers")  # torn mid-write
    with pytest.raises(ValueError, match="truncated by a crash mid-publish"):
        manifest_feed(spark, base, "id", state_path=state)
    with pytest.raises(ValueError, match="truncated by a crash mid-publish"):
        consume_manifest_feed(
            spark, base, "id", state_path=state,
            apply_batch=lambda df, v: None, max_epochs=1,
        )


def test_meta_fast_path_torn_read_falls_back_to_jvm(spark, tmp_path, monkeypatch):
    """A torn/quirky pyarrow fast-path read of a commit's meta json must
    fall back to the Hadoop read path (which sees the full bytes), while
    a feature-gate refusal surfaced BY the fast path must propagate —
    json.JSONDecodeError subclasses ValueError, so the gate re-raise has
    to be class-exact (UnsupportedTableFeatureError)."""
    import tibame_project_spark.sources.manifest as man

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1)]), base, stats_cols=["id"], keep=5
    )

    class _TornStream:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def read(self):
            return b'{"schema": {"fi'  # truncated mid-publish

    class _TornFS:
        def open_input_stream(self, rel):
            return _TornStream()

    monkeypatch.setattr(man, "_arrow_fs", lambda path: (_TornFS(), "x"))
    meta = man._meta(spark, base, 0)  # falls back, parses the real bytes
    assert "schema" in meta

    class _GateStream(_TornStream):
        def read(self):
            import json as _json

            return _json.dumps({"require": ["time-crystals"]}).encode()

    class _GateFS:
        def open_input_stream(self, rel):
            return _GateStream()

    monkeypatch.setattr(man, "_arrow_fs", lambda path: (_GateFS(), "x"))
    with pytest.raises(
        man.UnsupportedTableFeatureError, match="time-crystals"
    ):
        man._meta(spark, base, 0)


def test_merge_evolution_matches_columns_case_insensitively(spark, tmp_path):
    """Spark resolves columns case-insensitively, so a batch column
    drifting only in case ('V' vs 'v') is NOT schema evolution: it must
    merge without the flag and must never widen the table into duplicate
    case-variant columns (which would make every later read ambiguous)."""
    from tibame_project_spark.localdf import local_rows_df

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1), (2, 2)]), base, stats_cols=["id"], keep=10
    )
    batch = local_rows_df(spark, [(2, 20)], "id long, V long")
    merge_manifest_table(spark, batch, base, "id", keep=10)  # no refusal
    got = read_manifest_table(spark, base)
    assert got.columns == ["id", "v"]  # no duplicate case-variant column
    assert {(r["id"], r["v"]) for r in got.collect()} == {(1, 1), (2, 20)}
    # same under the flag: the case variant still isn't an "extra"
    merge_manifest_table(
        spark, local_rows_df(spark, [(3, 30)], "id long, V long"),
        base, "id", keep=10, allow_evolution=True,
    )
    got = read_manifest_table(spark, base)
    assert got.columns == ["id", "v"]


def test_stream_cdc_bootstrap_epoch_skips_compaction_cadence(spark, tmp_path):
    """With compact_every=1, the bootstrap epoch must publish exactly ONE
    version (v0): its write is already one clustered fold, and refolding
    it would drift version numbers for callers pinning them. The cadence
    starts at the first incremental epoch."""
    from tibame_project_spark.streaming.incremental import (
        stream_cdc_apply_manifest,
    )

    src = tmp_path / "feed"
    base = str(tmp_path / "mantab")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, v long, dead boolean"

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        stream_cdc_apply_manifest(
            stream, base, "id", checkpoint=ckpt, delete_col="dead",
            compact_every=1, keep=10,
        )

    land([(1, 1, False), (2, 2, False)])
    run()
    assert read_manifest_version(spark, base) == 0  # bootstrap only: v0
    # first incremental epoch: merge (v1) + its scheduled fold (v2)
    land([(3, 3, False)])
    run()
    assert read_manifest_version(spark, base) == 2
    assert {
        (r["id"], r["v"]) for r in read_manifest_table(spark, base).collect()
    } == {(1, 1), (2, 2), (3, 3)}


def test_merge_delete_col_case_drift_is_not_schema_evolution(spark, tmp_path):
    """A case-drifted tombstone column ('Dead' for delete_col='dead') must
    not land in the evolution extras: without the flag the merge must not
    refuse, and with it the tombstone must never be persisted as a junk
    table column."""
    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import delete_manifest_table  # noqa: F401

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(1, 1), (2, 2)]), base, stats_cols=["id"], keep=10
    )
    batch = local_rows_df(
        spark, [(1, 10, False), (2, 2, True)], "id long, v long, Dead boolean"
    )
    merge_manifest_table(
        spark, batch, base, "id", delete_col="dead", keep=10
    )
    got = read_manifest_table(spark, base)
    assert got.columns == ["id", "v"]  # tombstone never persisted
    assert {(r["id"], r["v"]) for r in got.collect()} == {(1, 10)}


def test_stream_cdc_replayed_bootstrap_also_skips_compaction(spark, tmp_path):
    """Version numbers must not depend on whether a crash happened: a
    crash-REPLAYED bootstrap epoch (checkpoint lost, txn watermark hits)
    skips the compaction cadence exactly like the clean bootstrap path,
    leaving the table at v0."""
    import shutil

    from tibame_project_spark.streaming.incremental import (
        stream_cdc_apply_manifest,
    )

    src = tmp_path / "feed"
    base = str(tmp_path / "mantab")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, v long, dead boolean"
    spark.createDataFrame(
        [(1, 1, False), (2, 2, False)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        stream_cdc_apply_manifest(
            stream, base, "id", checkpoint=ckpt, delete_col="dead",
            compact_every=1, keep=10, app_id="boot-replay",
        )

    run()
    assert read_manifest_version(spark, base) == 0
    shutil.rmtree(ckpt)  # lose the checkpoint: epoch 0 re-delivers
    run()
    # the watermark catches the replay AND the cadence stays skipped
    assert read_manifest_version(spark, base) == 0
    assert {
        (r["id"], r["v"]) for r in read_manifest_table(spark, base).collect()
    } == {(1, 1), (2, 2)}


def test_null_stats_tier_prunes_and_survives_every_commit_kind(spark, tmp_path):
    """Per-file nullCount (Delta's stats twin, opt-in at create): files
    with no non-NULL value in a stats column are skipped for IS NOT NULL
    reads via prune="nulls_c < rows" (min/max is blind to NULLs), the
    counts ride every later commit kind (append/merge/compact/rename/
    clone), manifest_table_stats folds the global count for free, and a
    mid-life enable refuses."""
    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import (
        clone_manifest_table,
        compact_manifest_table,
        evolve_manifest_table,
        manifest_table_stats,
    )

    base = str(tmp_path / "t")
    # file 1: ids 0-9, c all NULL; file 2: ids 10-19, c set
    rows = [(i, None) for i in range(10)] + [(i, i * 10) for i in range(10, 20)]
    df = local_rows_df(spark, rows, "id long, c long").repartitionByRange(
        2, "id"
    )
    write_manifest_table(
        spark, df, base, stats_cols=["id", "c"], null_stats=True, keep=10
    )
    man = manifest_stats(spark, base)
    assert {"nulls_id", "nulls_c"} <= set(man.columns)
    assert sorted(
        (r["nulls_c"], r["rows"]) for r in man.collect()
    ) == [(0, 10), (10, 10)]
    # IS NOT NULL read: the all-NULL file is skipped, rows identical
    pruned = read_manifest_table(spark, base, prune="nulls_c < rows")
    assert pruned.where(F.col("c").isNotNull()).count() == 10
    assert len(pruned.inputFiles()) == 1
    # IS NULL read: the NULL-free file is skipped
    assert len(
        read_manifest_table(spark, base, prune="nulls_c > 0").inputFiles()
    ) == 1
    stats = manifest_table_stats(spark, base)
    assert stats["nulls_c"] == 10 and stats["nulls_id"] == 0
    # every later commit kind keeps the counts coherent
    append_manifest_table(
        spark, local_rows_df(spark, [(20, None)], "id long, c long"),
        base, keep=10,
    )
    merge_manifest_table(
        spark, local_rows_df(spark, [(0, 7)], "id long, c long"),
        base, "id", keep=10,
    )
    assert manifest_table_stats(spark, base)["nulls_c"] == 10  # +1 -1
    compact_manifest_table(spark, base, keep=10)
    assert manifest_table_stats(spark, base)["nulls_c"] == 10
    # metadata-only rename: the null column follows the name
    evolve_manifest_table(spark, base, rename={"c": "score"}, keep=10)
    man2 = manifest_stats(spark, base)
    assert "nulls_score" in man2.columns and "nulls_c" not in man2.columns
    # clone inherits the flag: the clone's next commit still computes it
    clone = str(tmp_path / "c")
    clone_manifest_table(spark, base, clone)
    append_manifest_table(
        spark, local_rows_df(spark, [(30, None)], "id long, score long"),
        clone, keep=10,
    )
    assert manifest_table_stats(spark, clone)["nulls_score"] == 11
    # mid-life enable refuses loudly (manifests since v0 lack the columns)
    legacy = str(tmp_path / "legacy")
    write_manifest_table(
        spark, local_rows_df(spark, [(1, 1)], "id long, v long"),
        legacy, stats_cols=["id"], keep=10,
    )
    with pytest.raises(ValueError, match="null_stats is fixed"):
        write_manifest_table(
            spark, local_rows_df(spark, [(2, 2)], "id long, v long"),
            legacy, null_stats=True, keep=10,
        )


def test_data_skipping_expr_translates_predicates_conservatively(spark, tmp_path):
    """The predicate->prune compiler: ranges and IN from min/max,
    equality composing the Bloom tier, IS [NOT] NULL from null-count
    stats, AND keeping any translatable side, OR requiring both, and
    everything unprovable (NOT, functions, unknown columns) yielding no
    constraint rather than a wrong one."""
    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import data_skipping_expr

    base = str(tmp_path / "t")
    rows = [(i, i * 10 if i % 3 else None, f"u{i % 7}") for i in range(40)]
    write_manifest_table(
        spark,
        local_rows_df(spark, rows, "id long, price long, user string")
        .repartitionByRange(4, "id"),
        base, stats_cols=["id", "price"], bloom_cols=["user"],
        null_stats=True, keep=10,
    )

    def skip(pred):
        return data_skipping_expr(spark, base, pred)

    assert skip("id > 30") == "max_id > 30"
    assert skip("25 <= id") == "max_id >= 25"
    assert skip("price < 100") == "min_price < 100"
    assert skip("id = 7") == "(min_id <= 7 AND max_id >= 7)"
    assert skip("id IN (3, 33)") == (
        "((min_id <= 3 AND max_id >= 3) OR (min_id <= 33 AND max_id >= 33))"
    )
    assert skip("price IS NULL") == "nulls_price > 0"
    assert skip("price IS NOT NULL") == "nulls_price < rows"
    # AND keeps the translatable side; the udf-ish side adds nothing
    assert skip("id > 30 AND length(user) > 1") == "(max_id > 30)"
    # OR with an untranslatable side proves nothing about files
    assert skip("id > 30 OR length(user) > 1") is None
    assert skip("NOT (id > 30)") is None
    assert skip("unknown_col = 5") is None
    both = skip("id > 30 OR price < 10")
    assert both == "(max_id > 30) OR (min_price < 10)"
    # equality on a Bloom-ONLY column (not a stats col) still skips via
    # the per-era probe — and it provably excludes some files
    eq = skip("user = 'u3'")
    assert eq is not None and "min_user" not in eq
    got = read_manifest_table(spark, base, where="user = 'u3'")
    assert {r["user"] for r in got.collect()} == {"u3"}


def test_read_manifest_table_where_prunes_and_filters_exactly(spark, tmp_path):
    """where= is the transparent read: rows equal the exact filter, and
    the scan provably skips files the derived prune excludes."""
    from tibame_project_spark.localdf import local_rows_df

    base = str(tmp_path / "t")
    rows = [(i, None if i < 20 else i * 10) for i in range(40)]
    write_manifest_table(
        spark,
        local_rows_df(spark, rows, "id long, price long")
        .repartitionByRange(4, "id"),
        base, stats_cols=["id", "price"], null_stats=True, keep=10,
    )
    full = read_manifest_table(spark, base)
    for pred in (
        "id >= 30",
        "id = 5",
        "price IS NULL",
        "price IS NOT NULL AND id < 15",
        "id IN (1, 39)",
        "id < 10 OR id > 35",
    ):
        got = read_manifest_table(spark, base, where=pred)
        want = full.where(pred)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), pred
        assert len(got.inputFiles()) < 4, pred  # skipping actually bites
    # an untranslatable predicate still answers exactly (no skipping)
    got = read_manifest_table(spark, base, where="pmod(id, 7) = 3")
    assert got.count() == sum(1 for i in range(40) if i % 7 == 3)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.sampled_from([
            "id > {v}", "id >= {v}", "id < {v}", "id <= {v}", "id = {v}",
            "price > {v}", "price IS NULL", "price IS NOT NULL",
            "id IN ({v}, {w})",
        ]).map(lambda t: t),
        min_size=1, max_size=3,
    ),
    st.integers(0, 45), st.integers(0, 45),
    st.sampled_from([" AND ", " OR "]),
)
def test_data_skipping_where_is_always_exact(
    spark_global, tmp_path_factory, parts, v, w, joiner
):
    """Superset property under random predicates: where= must always
    return exactly the filtered rows, no matter what the derived prune
    keeps or skips."""
    spark = spark_global
    base = getattr(test_data_skipping_where_is_always_exact, "_base", None)
    if base is None:
        from tibame_project_spark.localdf import local_rows_df

        base = str(tmp_path_factory.mktemp("skip") / "t")
        rows = [(i, None if i % 4 == 0 else i * 3) for i in range(48)]
        write_manifest_table(
            spark,
            local_rows_df(spark, rows, "id long, price long")
            .repartitionByRange(5, "id"),
            base, stats_cols=["id", "price"], null_stats=True, keep=10,
        )
        test_data_skipping_where_is_always_exact._base = base
    pred = joiner.join(
        p.format(v=v, w=w) for p in parts
    )
    got = sorted(
        map(tuple, read_manifest_table(spark, base, where=pred).collect())
    )
    want = sorted(
        map(tuple, read_manifest_table(spark, base).where(pred).collect())
    )
    assert got == want, pred


def test_data_skipping_refuses_cross_type_coercion(spark, tmp_path):
    """The one way the compiler could over-prune: a literal whose type
    family differs from the column's compares numerically row-side but
    would compare raw stats prune-side. String stats column '10' vs '9'
    (lex max '9'), string Bloom column '05' (canonical probe would hash
    '5'): both predicates must translate to NO constraint and still
    answer exactly — these were confirmed silent-row-loss bugs before
    the type gates."""
    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import data_skipping_expr

    base = str(tmp_path / "t")
    # numeric-looking strings: the coerced ROW filter works (ANSI casts
    # succeed) while the raw stats ('9' > '10' lexicographically, Bloom
    # of '05' != canonical '5') would mislead a naive translation
    rows = [("9", "05"), ("10", "05"), ("7", "07")]
    write_manifest_table(
        spark,
        local_rows_df(spark, rows, "code string, user string").coalesce(1),
        base, stats_cols=["code"], bloom_cols=["user"],
        null_stats=True, keep=10,
    )
    # cross-family comparisons contribute no constraint
    assert data_skipping_expr(spark, base, "code > 9") is None
    assert data_skipping_expr(spark, base, "code = 10") is None
    assert data_skipping_expr(spark, base, "code IN (9, 10)") is None
    assert data_skipping_expr(spark, base, "user = 5") is None
    assert data_skipping_expr(spark, base, "user IN (5, 7)") is None
    # and the transparent read stays exact (full scan, coerced filter)
    assert read_manifest_table(spark, base, where="code > 9").count() == 1
    assert read_manifest_table(spark, base, where="code = 10").count() == 1
    assert read_manifest_table(spark, base, where="user = 5").count() == 2
    # same-family still translates: string literal on the string column
    assert data_skipping_expr(spark, base, "code = '10'") is not None
    assert (
        read_manifest_table(spark, base, where="code = '10'").count() == 1
    )
    # numeric widening within the family stays safe and translated
    base2 = str(tmp_path / "n")
    write_manifest_table(
        spark,
        local_rows_df(spark, [(1,), (12,)], "id int").coalesce(1),
        base2, stats_cols=["id"], keep=10,
    )
    assert data_skipping_expr(spark, base2, "id > 5.5") == "max_id > 5.5BD"
    assert read_manifest_table(spark, base2, where="id > 5.5").count() == 1


def test_data_skipping_bloom_probe_matches_declared_type(spark, tmp_path):
    """Bloom legs hash the probe as the column's declared type: integral
    literal against an integral Bloom column probes (files provably
    skipped), while a boolean or cross-type literal skips the leg."""
    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import data_skipping_expr

    base = str(tmp_path / "t")
    rows = [(i, i % 5) for i in range(40)]
    write_manifest_table(
        spark,
        local_rows_df(spark, rows, "id long, bucket long")
        .repartitionByRange(4, "id"),
        base, stats_cols=["id"], bloom_cols=["bucket"], keep=10,
    )
    expr = data_skipping_expr(spark, base, "bucket = 3")
    assert expr is not None and "bloom_bucket" in expr
    got = read_manifest_table(spark, base, where="bucket = 3")
    assert got.count() == 8 and {r["bucket"] for r in got.collect()} == {3}


def test_data_skipping_like_prefix_and_isnotnull_fallback(spark, tmp_path):
    """LIKE 'abc%' translates to the [prefix, incremented-prefix) range
    check (Delta's startsWith); wildcards mid-pattern or a leading %
    prove nothing. IS NOT NULL on a table WITHOUT null_stats falls back
    to the min/max proxy: only an all-NULL file folds min to NULL."""
    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import data_skipping_expr

    base = str(tmp_path / "t")
    rows = (
        [(i, f"apple{i}") for i in range(10)]
        + [(i, f"melon{i}") for i in range(10, 20)]
        + [(i, None) for i in range(20, 30)]
    )
    write_manifest_table(
        spark,
        local_rows_df(spark, rows, "id long, name string")
        .repartitionByRange(3, "id"),
        base, stats_cols=["id", "name"], keep=10,
    )
    assert data_skipping_expr(spark, base, "name LIKE 'apple%'") == (
        "max_name >= 'apple' AND min_name < 'applf'"
    )
    assert data_skipping_expr(spark, base, "name LIKE '%apple'") is None
    assert data_skipping_expr(spark, base, "name LIKE 'ap_le%'") is None
    assert data_skipping_expr(spark, base, "id LIKE '1%'") is None  # non-string
    got = read_manifest_table(spark, base, where="name LIKE 'melon%'")
    assert got.count() == 10
    assert len(got.inputFiles()) < 3  # skipping bites
    # IS NOT NULL without null_stats: min/max proxy skips the all-NULL file
    assert data_skipping_expr(spark, base, "name IS NOT NULL") == (
        "min_name IS NOT NULL"
    )
    got = read_manifest_table(spark, base, where="name IS NOT NULL")
    assert got.count() == 20
    assert len(got.inputFiles()) < 3


def test_data_skipping_like_prefix_skips_unsafe_increment_chars(spark, tmp_path):
    """The LIKE-prefix UPPER bound must never emit a codepoint that breaks
    the SQL literal or the transport: incrementing 'ab[' lands on the
    backslash (U+005C) and 'ab&' on the quote (U+0027) — both must skip
    FORWARD to the next safe char (superset-safe: a larger upper admits
    more files, never fewer); a prefix ending at U+D7FF must jump the
    whole surrogate block to U+E000; a prefix of U+10FFFF chars has no
    successor and keeps only the lower bound."""
    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import data_skipping_expr

    base = str(tmp_path / "t")
    rows = (
        [(i, f"ab[{i}") for i in range(10)]
        + [(i, f"zz{i}") for i in range(10, 20)]
    )
    write_manifest_table(
        spark,
        local_rows_df(spark, rows, "id long, name string")
        .repartitionByRange(2, "id"),
        base, stats_cols=["id", "name"], keep=10,
    )
    # '[' + 1 = '\' (refused) -> ']'
    assert data_skipping_expr(spark, base, "name LIKE 'ab[%'") == (
        "max_name >= 'ab[' AND min_name < 'ab]'"
    )
    # '&' + 1 = ''' (refused) -> '('
    assert data_skipping_expr(spark, base, "name LIKE 'ab&%'") == (
        "max_name >= 'ab&' AND min_name < 'ab('"
    )
    # U+D7FF + 1 = U+D800 (lone surrogate, refused) -> U+E000
    hi = chr(0xD7FF)
    assert data_skipping_expr(spark, base, f"name LIKE 'a{hi}%'") == (
        f"max_name >= 'a{hi}' AND min_name < 'a'"
    )
    # no successor at all: lower bound alone (still a valid prune)
    top = chr(0x10FFFF) * 2
    assert data_skipping_expr(spark, base, f"name LIKE '{top}%'") == (
        f"max_name >= '{top}'"
    )
    # end-to-end: the predicate that used to raise ParseException
    got = read_manifest_table(spark, base, where="name LIKE 'ab[%'")
    assert got.count() == 10
    assert len(got.inputFiles()) < 2  # the zz-file is pruned


def test_merge_update_condition_gates_matched_rows(spark, tmp_path):
    """Conditional MERGE (Delta's whenMatched(condition)): only matched
    source rows whose condition holds apply — stale out-of-order CDC
    images AND stale deletes are ignored, inserts are never gated, and
    replaying the same batch stays a fixpoint."""
    from tibame_project_spark.localdf import local_rows_df

    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        local_rows_df(
            spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            "id long, v string, ts long",
        ),
        base, stats_cols=["id"], keep=10,
    )
    batch = local_rows_df(
        spark,
        [
            (1, "A", 11, False),   # newer: applies
            (2, "stale", 5, False),  # older: ignored
            (3, "x", 7, True),     # stale DELETE: ignored
            (4, "d", 40, False),   # unmatched: inserts regardless
        ],
        "id long, v string, ts long, dead boolean",
    )
    merge_manifest_table(
        spark, batch, base, "id", delete_col="dead", keep=10,
        update_condition="ts > t_ts",
    )
    def content():
        return {
            (r["id"], r["v"], r["ts"])
            for r in read_manifest_table(spark, base).collect()
        }
    expected = {(1, "A", 11), (2, "b", 20), (3, "c", 30), (4, "d", 40)}
    assert content() == expected
    # replay is a fixpoint: every row now compares against itself
    merge_manifest_table(
        spark, batch, base, "id", delete_col="dead", keep=10,
        update_condition="ts > t_ts",
    )
    assert content() == expected
    # a genuinely newer delete goes through the same gate
    merge_manifest_table(
        spark,
        local_rows_df(spark, [(3, "x", 99, True)],
                      "id long, v string, ts long, dead boolean"),
        base, "id", delete_col="dead", keep=10,
        update_condition="ts > t_ts",
    )
    assert content() == expected - {(3, "c", 30)}


def test_merge_refuses_duplicate_key_batch(spark, tmp_path):
    """A batch carrying TWO images of one key must refuse loudly — the
    merge's full-outer join would fan both out into duplicate target
    rows. With update_condition the hole is wider (two stale-ordered
    images both newer than the target both survive the pre-filter), so
    the refusal must fire on that path too — and BEFORE any rewrite:
    the table is unchanged afterwards."""
    from tibame_project_spark.localdf import local_rows_df

    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        local_rows_df(spark, [(1, "a", 10), (2, "b", 20)],
                      "id long, v string, ts long"),
        base, stats_cols=["id"], keep=10,
    )
    dup = local_rows_df(
        spark,
        [(1, "img1", 11), (1, "img2", 12), (2, "b2", 21)],
        "id long, v string, ts long",
    )
    with pytest.raises(ValueError, match="duplicate 'id' keys"):
        merge_manifest_table(spark, dup, base, "id", keep=10)
    with pytest.raises(ValueError, match="duplicate 'id' keys"):
        merge_manifest_table(
            spark, dup, base, "id", keep=10, update_condition="ts > t_ts"
        )
    got = {(r["id"], r["v"], r["ts"])
           for r in read_manifest_table(spark, base).collect()}
    assert got == {(1, "a", 10), (2, "b", 20)}
    # collapsed keep-last on the ordering column, the documented fix:
    from tibame_project_spark.operators.dedup import dedup_keep_last

    merge_manifest_table(
        spark, dedup_keep_last(dup, ["id"], [F.col("ts")]), base, "id",
        keep=10, update_condition="ts > t_ts",
    )
    got = {(r["id"], r["v"], r["ts"])
           for r in read_manifest_table(spark, base).collect()}
    assert got == {(1, "img2", 12), (2, "b2", 21)}


def test_merge_update_condition_refuses_alias_collisions(spark, tmp_path):
    """A source column spelled t_<target-col> (or __mck) would make the
    condition's alias binding ambiguous — refuse with names instead of
    an AnalysisException deep in the join (or a misbound reference)."""
    from tibame_project_spark.localdf import local_rows_df

    base = str(tmp_path / "t")
    # the ADVICE case: the TABLE itself carries both ts and t_ts, so the
    # matched-row alias of ts ('t_ts') collides with the genuine source
    # column t_ts and "ts > t_ts" binds ambiguously
    write_manifest_table(
        spark,
        local_rows_df(spark, [(1, "a", 10, 9)],
                      "id long, v string, ts long, t_ts long"),
        base, stats_cols=["id"], keep=10,
    )
    bad = local_rows_df(
        spark, [(1, "A", 11, 10)], "id long, v string, ts long, t_ts long",
    )
    with pytest.raises(ValueError, match="collide"):
        merge_manifest_table(
            spark, bad, base, "id", keep=10, update_condition="ts > t_ts",
        )
    # a source column adding a NEW t_<name> under evolution collides too
    # (the NULL-filled lift would alias the target's v as t_v)
    with pytest.raises(ValueError, match="collide"):
        merge_manifest_table(
            spark,
            local_rows_df(spark, [(1, "A", 11, 10, "x")],
                          "id long, v string, ts long, t_ts long, t_v string"),
            base, "id", keep=10, allow_evolution=True,
            update_condition="ts > t_ts",
        )
    # without a condition there is no t_-alias join at all: the same
    # shape merges fine (t_ts is just a column)
    merge_manifest_table(spark, bad, base, "id", keep=10)
    got = {(r["id"], r["v"], r["ts"], r["t_ts"])
           for r in read_manifest_table(spark, base).collect()}
    assert got == {(1, "A", 11, 10)}


def test_footer_stats_match_scan_stats_exactly(spark, tmp_path):
    """The r14 footer-based stats path (parquet metadata, zero data
    bytes re-read) must produce BIT-IDENTICAL manifest rows to the
    distributed scan path it replaces, across every decodable type —
    including the string truncation contract, an all-NULL column, a
    zero-row part file (no manifest row — the scan's groupBy drops empty
    groups), and NULL-bearing columns."""
    import datetime

    from pyspark.sql import functions as F

    from tibame_project_spark.sources import manifest as M

    base = str(tmp_path / "t")
    df = spark.range(0, 5000).select(
        F.col("id").cast("int").alias("k"),
        F.concat(
            F.lit("s"), F.lpad((F.col("id") % 997).cast("string"), 40, "0")
        ).alias("s"),
        F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id") * 2).alias("v"),
        F.date_add(
            F.lit("2020-01-01").cast("date"), (F.col("id") % 500).cast("int")
        ).alias("dt"),
        (F.col("id") % 2 == 0).alias("b"),
    )
    cols = ["k", "s", "v", "dt", "b"]
    M._write_data(df, base, "data/c=ab", "k", 3)
    assert M._footer_file_stats(
        spark, base, "data/c=ab", cols, df.schema, 0, null_stats=True
    ) is not None, "footer path must serve these types"

    def both(data_dir, stats_cols, schema, null_stats):
        foot = sorted(
            tuple(r)
            for r in spark.createDataFrame(M._file_stats(
                spark, base, data_dir, stats_cols, schema, None,
                null_stats=null_stats,
            )).collect()
        )
        orig = M._footer_file_stats
        M._footer_file_stats = lambda *a, **kw: None
        try:
            scan = sorted(
                tuple(r)
                for r in spark.createDataFrame(M._file_stats(
                    spark, base, data_dir, stats_cols, schema, None,
                    null_stats=null_stats,
                )).collect()
            )
        finally:
            M._footer_file_stats = orig
        return foot, scan

    foot, scan = both("data/c=ab", cols, df.schema, True)
    assert foot == scan and len(foot) == 3

    # all-NULL column + zero-row part file (repartition 3 over 2 rows)
    df2 = spark.createDataFrame([(1, None), (2, None)], "k int, s string")
    M._write_data(df2, base, "data/c=e1", None, 3)
    foot, scan = both("data/c=e1", ["k", "s"], df2.schema, True)
    assert foot == scan
    assert all(r[5] is None and r[6] is None for r in foot)  # min_s/max_s

    # degenerate truncation: the 33rd char of max IS U+10FFFF — the full
    # value must be kept (appending the sentinel would under-bound)
    top = chr(0x10FFFF)
    df3 = spark.createDataFrame([("a" * 32 + top + "z",), ("b",)], "s string")
    M._write_data(df3, base, "data/c=e3", None, 1)
    foot, scan = both("data/c=e3", ["s"], df3.schema, False)
    assert foot == scan

    # a float stats column refuses the footer path (NaN makes parquet
    # min/max undefined) and the scan fallback serves it
    df4 = spark.createDataFrame([(1, 1.5)], "k int, x double")
    M._write_data(df4, base, "data/c=e4", None, 1)
    assert M._footer_file_stats(
        spark, base, "data/c=e4", ["k", "x"], df4.schema, 0,
        null_stats=False,
    ) is None
    rows = spark.createDataFrame(M._file_stats(
        spark, base, "data/c=e4", ["k", "x"], df4.schema, None
    )).collect()
    assert len(rows) == 1 and rows[0]["min_x"] == 1.5

    # a stats column present in no chunk (absent chunk statistics) must
    # return None from the footer path, so the scan serves it
    schema_extra = df.withColumn("zz", F.lit(1)).schema
    assert M._footer_file_stats(
        spark, base, "data/c=ab", ["k", "zz"], schema_extra, 0,
        null_stats=False,
    ) is None


def _scan_stats(spark, base, data_dir, stats_cols, schema, schema_id):
    """``_file_stats`` rows through the distributed scan, footers off."""
    from tibame_project_spark.sources import manifest as M

    orig = M._footer_file_stats
    M._footer_file_stats = lambda *a, **kw: None
    try:
        return sorted(
            tuple(r)
            for r in spark.createDataFrame(M._file_stats(
                spark, base, data_dir, stats_cols, schema, None, schema_id,
                null_stats=True,
            )).collect()
        )
    finally:
        M._footer_file_stats = orig


def test_footer_stats_remote_scheme_and_all_null_match_scan(spark, tmp_path):
    """The footer path serves a REGISTERED remote scheme (the 100 TB
    deployment shape: a register_arrow_fs resolver Hadoop does not
    speak) and an all-NULL column, both equal to the distributed scan."""
    from pyarrow import fs as pafs
    from pyspark.sql import functions as F

    from tibame_project_spark.sources import manifest as M

    base = str(tmp_path / "t")
    df = spark.range(0, 3000).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
        F.date_add(
            F.lit("2021-06-01").cast("date"), (F.col("id") % 99).cast("int")
        ).alias("dt"),
    )
    cols = ["k", "s", "dt"]
    M._write_data(df, base, "data/c=tw", "k", 2)

    def resolver(path):
        rel = path[len("mock://store/"):]
        return (
            pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem()),
            rel,
        )

    prev = M.register_arrow_fs("mock", resolver)
    try:
        remote = M._footer_file_stats(
            spark, "mock://store/t", "data/c=tw", cols, df.schema, 5,
            null_stats=True,
        )
    finally:
        if prev is None:
            del M._ARROW_FS_RESOLVERS["mock"]
        else:
            M.register_arrow_fs("mock", prev)
    assert len(remote) == 2
    assert sorted(remote) == _scan_stats(
        spark, base, "data/c=tw", cols, df.schema, 5
    )

    # an all-NULL column: null counts, no bounds — as the scan says
    df2 = spark.createDataFrame([(1, None), (2, None)], "k int, s string")
    M._write_data(df2, base, "data/c=tw2", None, 1)
    a2 = M._footer_file_stats(
        spark, base, "data/c=tw2", ["k", "s"], df2.schema, 0,
        null_stats=True,
    )
    assert len(a2) == 1
    assert a2 == _scan_stats(spark, base, "data/c=tw2", ["k", "s"], df2.schema, 0)


def test_footer_stats_return_none_on_arrow_io_error(spark, tmp_path):
    """An Arrow filesystem that constructs but cannot ACCESS the store
    (credentials only in Spark's Hadoop conf, transient store errors)
    must make the footer path return None — the caller then takes the
    distributed scan — not crash the commit."""
    from tibame_project_spark.sources import manifest as M

    def resolver(path):
        class Raising:
            def get_file_info(self, *a, **k):
                raise OSError("AWS Error ACCESS_DENIED")

        return Raising(), path.split("://", 1)[1]

    prev = M.register_arrow_fs("deny", resolver)
    try:
        got = M._footer_file_stats(
            spark, "deny://x/t", "data/c=z", ["k"],
            spark.range(1).select(F.col("id").cast("int").alias("k")).schema,
            0, null_stats=False,
        )
        assert got is None
    finally:
        if prev is None:
            del M._ARROW_FS_RESOLVERS["deny"]
        else:
            M.register_arrow_fs("deny", prev)


@pytest.mark.parametrize(
    "stats_cols", [["k", "s"], ["k", "s", "x", "ts"]], ids=["footer", "scan"]
)
def test_arrow_manifest_matches_the_spark_store_path(
    spark, tmp_path, monkeypatch, stats_cols
):
    """Manifests are pyarrow Tables from load to write. On a store
    pyarrow cannot reach (``_arrow_fs`` → None) they are read and
    written through Spark and the footer stats fall back to the scan.
    One history — create, append, MERGE (update + insert + tombstone),
    a widening evolve, a DV delete, stage + publish of a merge and a
    shallow clone — on a Bloom-configured null-stats table must leave
    row-identical manifests both ways, with footer-decodable stats and
    with double/timestamp ones. Only the table roots, the random commit
    dir tokens and distributed-writer part suffixes may differ."""
    import datetime
    import re

    from tibame_project_spark.sources import manifest as M

    schema = "k int, s string, v bigint, x double, ts timestamp"

    def rows(ks, v0, dead=None):
        out = []
        for k in ks:
            r = (k, f"u{k % 89}", k * 3 + v0, k / 4,
                 datetime.datetime(2021, 1, 1) + datetime.timedelta(hours=k))
            out.append(r if dead is None else r + (dead,))
        return out

    def build(base, clone):
        df = spark.createDataFrame(rows(range(600), 0), schema)
        M.write_manifest_table(
            spark, df, base, stats_cols=stats_cols, cluster_by="k",
            n_files=2, bloom_cols=["s"], null_stats=True, keep=10,
        )
        M.append_manifest_table(
            spark, spark.createDataFrame(rows(range(600, 650), 1000), schema),
            base, n_files=1, cluster_by="k", keep=10,
        )
        M.merge_manifest_table(
            spark,
            spark.createDataFrame(
                rows([10, 9000], 7, False) + rows([25], 0, True),
                schema + ", __del boolean",
            ),
            base, "k", delete_col="__del", keep=10,
        )
        M.evolve_manifest_table(spark, base, widen={"k": "bigint"}, keep=10)
        wide = schema.replace("k int", "k bigint")
        M.delete_manifest_table(
            spark, spark.createDataFrame([(40,), (41,)], "k bigint"),
            base, "k", keep=10,
        )
        tok = M.stage_merge_manifest_table(
            spark, spark.createDataFrame(rows([620, 9100], 5), wide), base, "k"
        )
        M.publish_staged_manifest(spark, base, tok, keep=10)
        M.clone_manifest_table(spark, base, clone)

        def norm(v):
            if isinstance(v, str):
                v = v.replace(base, "B")
                v = re.sub(r"(data|dv)/c=[^/]+", r"\1/D", v)
                v = re.sub(r"part-(\d+)[^.]*", r"part-\1", v)
            if isinstance(v, dict):
                return tuple(sorted(v.items()))
            return v

        out = []
        for root, n in ((base, 6), (clone, 1)):
            for ver in range(n):
                got = spark.read.parquet(f"{root}/manifest/v={ver}").collect()
                out.append(sorted(tuple(norm(v) for v in r) for r in got))
        return out

    arrow_rows = build(str(tmp_path / "arrow"), str(tmp_path / "arrow_clone"))
    monkeypatch.setattr(M, "_arrow_fs", lambda path: None)
    spark_rows = build(str(tmp_path / "spark"), str(tmp_path / "spark_clone"))
    monkeypatch.undo()

    assert len(arrow_rows) == len(spark_rows) == 7
    for i, (a, b) in enumerate(zip(arrow_rows, spark_rows)):
        assert a and a == b, f"manifest #{i} diverged between Arrow and Spark stores"


def test_commits_leave_the_session_confs_alone(spark, tmp_path):
    """The commit path's AQE-off and unbounded single-partition actions
    run in a cloned session: a poller reading the caller's session confs
    while a fused merge, a fused DV delete, a Bloom-table commit and a
    merge of a parquet-read (distributed) batch commit sees only the
    original values."""
    import threading

    from tibame_project_spark.sources.manifest import delete_manifest_table

    keys = ("spark.sql.adaptive.enabled", "spark.sql.maxSinglePartitionBytes")
    orig = tuple(spark.conf.get(k) for k in keys)
    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(20)]), base,
        stats_cols=["id"], cluster_by="id", n_files=1, keep=10,
    )
    _mk(spark, [(4, 44), (25, 25)]).write.parquet(str(tmp_path / "batch"))
    seen, polls, stop = set(), [0], threading.Event()

    def poll():
        while not stop.is_set():
            seen.add(tuple(spark.conf.get(k) for k in keys))
            polls[0] += 1

    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    try:
        merge_manifest_table(spark, _mk(spark, [(3, 30), (40, 40)]), base, "id", keep=10)
        delete_manifest_table(spark, _mk(spark, [(5, 0)]).select("id"), base, "id", keep=10)
        write_manifest_table(
            spark, _mk(spark, [(i, i) for i in range(20)]), str(tmp_path / "b"),
            stats_cols=["id"], bloom_cols=["v"],
        )
        batch = spark.read.parquet(str(tmp_path / "batch"))
        merge_manifest_table(spark, batch, base, "id", keep=10)
    finally:
        stop.set()
        poller.join(timeout=30)
    assert not poller.is_alive()
    assert polls[0] > 0
    assert seen == {orig}
    assert _content(spark, base) == {
        (i, i) for i in range(20) if i not in (3, 4, 5)
    } | {(3, 30), (4, 44), (25, 25), (40, 40)}


def test_fused_merge_clone_keeps_the_gate_and_the_session_confs(
    spark, tmp_path, monkeypatch
):
    """A fused merge runs in a clone of the caller's session and must
    behave as it would in the session itself: the expect gate's
    Observation fires there (a violating batch raises, a clean one
    commits — run in a worker thread, so a gate that never fires fails
    the test instead of hanging it), and the data files take the
    caller's runtime confs (a gzip codec, which ``newSession()`` would
    drop)."""
    import threading

    import pyarrow.parquet as pq

    from tibame_project_spark.operators.expectations import in_range
    from tibame_project_spark.sources import manifest as M

    clones = []
    real = M._in_clone

    def spy(*frames):
        clones.append(len(frames))
        return real(*frames)

    monkeypatch.setattr(M, "_in_clone", spy)
    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(20)]), base,
        stats_cols=["id"], cluster_by="id", n_files=1, keep=10,
    )
    rule = [in_range("v", 0, 100)]
    out = {}

    def gated():
        try:
            with pytest.raises(ValueError, match="expectation gate failed"):
                merge_manifest_table(
                    spark, _mk(spark, [(3, -1)]), base, "id", expect=rule, keep=10
                )
            out["version"] = merge_manifest_table(
                spark, _mk(spark, [(3, 30)]), base, "id", expect=rule, keep=10
            )
        except BaseException as e:  # re-raised on the test thread
            out["error"] = e

    worker = threading.Thread(target=gated, daemon=True)
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive(), "the expect gate's Observation never fired"
    if "error" in out:
        raise out["error"]
    assert out["version"] == 1
    assert clones == [2, 2]  # both merges fused: source and current moved

    codec = "spark.sql.parquet.compression.codec"
    old = spark.conf.get(codec)
    spark.conf.set(codec, "gzip")
    try:
        merge_manifest_table(spark, _mk(spark, [(4, 40)]), base, "id", keep=10)
    finally:
        spark.conf.set(codec, old)
    assert clones == [2, 2, 2]
    files = M.manifest_file_paths(spark, base)
    assert len(files) == 1
    meta = pq.ParquetFile(f"{base}/{files[0]}").metadata
    assert {
        meta.row_group(g).column(c).compression
        for g in range(meta.num_row_groups)
        for c in range(meta.num_columns)
    } == {"GZIP"}
    assert _content(spark, base) == {
        (i, i) for i in range(20) if i not in (3, 4)
    } | {(3, 30), (4, 40)}


def test_merge_fusion_is_bounded_on_the_source_side(spark, tmp_path, monkeypatch):
    """The single-file merge fusion also needs a small source: a batch
    whose size estimate is unknown (RDD-backed, estimated at
    Long.MaxValue) or large (a 400 MB range filtered to 10 rows, which
    the estimate cannot see) keeps the distributed merge join."""
    from pyspark.sql.types import LongType, StructField, StructType

    from tibame_project_spark.sources import manifest as M

    plans = []
    orig_wd = M._write_data

    def spy(df, *a, **k):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return orig_wd(df, *a, **k)

    monkeypatch.setattr(M, "_write_data", spy)
    base = str(tmp_path / "t")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_manifest_table(
        spark, df, base, stats_cols=["k"], cluster_by="k", n_files=1, keep=10
    )
    schema = StructType(
        [StructField("k", LongType()), StructField("v", LongType())]
    )
    rdd_batch = spark.createDataFrame(
        spark.sparkContext.parallelize([(3, -1), (5000, -1)], 1), schema
    )
    big_estimate = spark.range(0, 50_000_000).where("id % 5000000 = 0").select(
        F.col("id").alias("k"), F.lit(-2).cast("long").alias("v")
    )
    for batch in (rdd_batch, big_estimate):
        plans.clear()
        merge_manifest_table(spark, batch, base, "k", keep=10)
        merged = [p for p in plans if "FullOuter" in p]
        assert merged, "merge write plan not captured"
        assert "Exchange hashpartitioning" in merged[0]
    got = {(r["k"], r["v"]) for r in read_manifest_table(spark, base).collect()}
    assert got == {(i, -2 if i == 0 else -1 if i == 3 else i * 2) for i in range(1000)} | {
        (5000, -1)
    } | {(i * 5_000_000, -2) for i in range(1, 10)}


def test_update_condition_fuses_only_within_the_broadcast_bound(
    spark, tmp_path, monkeypatch
):
    """The fused merge broadcasts its candidate rows explicitly under
    ``update_condition``, so it fuses only while the candidates fit
    ``_BROADCAST_MAX_BYTES``: with the bound below one small file's size
    a conditional merge keeps the distributed merge join, and the same
    merge without a condition still fuses."""
    from tibame_project_spark.sources import manifest as M

    plans = []
    orig_wd = M._write_data

    def spy(df, *a, **k):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return orig_wd(df, *a, **k)

    monkeypatch.setattr(M, "_write_data", spy)
    monkeypatch.setattr(M, "_BROADCAST_MAX_BYTES", 100)
    base = str(tmp_path / "t")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_manifest_table(
        spark, df, base, stats_cols=["k"], cluster_by="k", n_files=1, keep=10
    )
    for cond in ("v > t_v", None):
        plans.clear()
        batch = _mk(spark, [(3, 100), (5000, 1)], "k long, v long")
        merge_manifest_table(
            spark, batch, base, "k", keep=10, update_condition=cond
        )
        merged = [p for p in plans if "FullOuter" in p]
        assert merged, "merge write plan not captured"
        assert ("Exchange hashpartitioning" in merged[0]) == (cond is not None)
    got = {(r["k"], r["v"]) for r in read_manifest_table(spark, base).collect()}
    assert got == {(i, 100 if i == 3 else i * 2) for i in range(1000)} | {
        (5000, 1)
    }


def test_manifest_arithmetic_runs_no_spark_job(spark, tmp_path, spark_jobs):
    """Evolve, clone and ``manifest_history`` only edit or fold manifests,
    which are driver-side Arrow tables: none of them launches a Spark
    job on a local table."""
    from tibame_project_spark.sources.manifest import (
        clone_manifest_table,
        evolve_manifest_table,
        manifest_history,
    )

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(40)], "id int, v long"),
        base, stats_cols=["id"], cluster_by="id", n_files=4, keep=10,
    )
    with spark_jobs() as jobs:
        evolve_manifest_table(spark, base, widen={"id": "bigint"}, keep=10)
        assert jobs() == 0
    with spark_jobs() as jobs:
        clone_manifest_table(spark, base, str(tmp_path / "c"))
        assert jobs() == 0
    with spark_jobs() as jobs:
        hist = manifest_history(spark, base).collect()
        assert jobs() == 0
    assert [(r["version"], r["files"], r["rows"]) for r in hist] == [
        (0, 4, 40), (1, 4, 40)
    ]
    assert _content(spark, str(tmp_path / "c")) == {(i, i) for i in range(40)}


def test_append_with_double_stats_runs_at_most_three_jobs(
    spark, tmp_path, spark_jobs
):
    """A double stats column takes the scan stats path; the scan's jobs
    moved from the manifest write into the stats collection, so an
    append still runs at most three jobs (data write, stats scan)."""
    from tibame_project_spark.sources import manifest as M

    base = str(tmp_path / "t")
    schema = "id long, x double"
    write_manifest_table(
        spark, _mk(spark, [(i, i / 2) for i in range(40)], schema), base,
        stats_cols=["id", "x"], cluster_by="id", n_files=2, keep=10,
    )
    with spark_jobs() as jobs:
        M.append_manifest_table(
            spark, _mk(spark, [(100, 20.5), (101, 1.5)], schema), base, keep=10
        )
        assert jobs() <= 3
    stats = spark.createDataFrame(M._load_manifest(spark, base, 1)).collect()
    assert sum(r["rows"] for r in stats) == 42
    assert max(r["max_x"] for r in stats) == 20.5


def test_fits_one_task_fails_closed_on_unknown_bytes(monkeypatch):
    """The single-task fusion gate fuses only inputs PROVABLY small: a
    NULL file size is not provably small, so it takes the distributed
    plan."""
    from tibame_project_spark.sources import manifest as M

    monkeypatch.setattr(M, "_MERGE_FUSE_MAX_BYTES", 100)
    assert M._fits_one_task([])
    assert M._fits_one_task([100])
    assert M._fits_one_task(iter([40, 60]))
    assert not M._fits_one_task([101])
    assert not M._fits_one_task([None])
    assert not M._fits_one_task([10, None])


def test_merge_batch_with_memo_named_column(spark, tmp_path):
    """A user column spelled like the engine's LocalRelation memo
    (``_tibame_is_local``) must not shadow it: DataFrame attribute
    access returns that Column, which the merge's ``if`` cannot
    convert to a bool."""
    schema = "id long, _tibame_is_local long"
    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(10)], schema), base,
        stats_cols=["id"], cluster_by="id", n_files=2,
    )
    batch = spark.createDataFrame([(3, 30), (42, 42)], schema)
    assert merge_manifest_table(spark, batch, base, "id") == 1
    got = {
        (r["id"], r["_tibame_is_local"])
        for r in read_manifest_table(spark, base).collect()
    }
    assert got == {(i, i) for i in range(10) if i != 3} | {(3, 30), (42, 42)}


def test_commit_fs_create_new_has_one_winner_per_race(spark, tmp_path):
    """The default CommitFS create-new must be atomic on a local path:
    threads racing one path get exactly one winner, every trial.
    Hadoop's local ``create(path, overwrite=False)`` checks, then
    creates, and lets several racers win."""
    import threading

    from tibame_project_spark.sources import manifest as M

    fs, _, jvm = M._fs_for(spark, str(tmp_path))
    n_threads = 4
    for trial in range(200):
        path = jvm.org.apache.hadoop.fs.Path(f"{tmp_path}/_CLAIM_v{trial}")
        barrier = threading.Barrier(n_threads, timeout=30)
        wins = []

        def racer():
            barrier.wait()
            try:
                M._COMMIT_FS.create_new(fs, path)
                wins.append(1)
            except Exception:
                pass

        threads = [threading.Thread(target=racer) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
            assert not t.is_alive()
        assert len(wins) == 1, f"trial {trial}: {len(wins)} winners"
    # the loser's error is a plain FileExistsError, and data lands intact
    tag = jvm.org.apache.hadoop.fs.Path(f"{tmp_path}/tags/t.json")
    M._COMMIT_FS.create_new(fs, tag, b'{"version": 3}')
    with pytest.raises(FileExistsError):
        M._COMMIT_FS.create_new(fs, tag, b"{}")
    assert (tmp_path / "tags" / "t.json").read_bytes() == b'{"version": 3}'


def test_data_skipping_translates_between_as_its_comparisons(spark, tmp_path):
    """Spark parses ``c BETWEEN a AND b`` as the function
    ``between(c, a, b)`` and rewrites it to ``c >= a AND c <= b``: the
    prune compiler derives exactly that form's prune (cross-type and
    NULL bounds included), NOT BETWEEN proves nothing, and a narrow
    window opens one file."""
    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import data_skipping_expr

    base = str(tmp_path / "t")
    rows = [(i, i * 10, f"u{i:02d}") for i in range(80)]
    write_manifest_table(
        spark, local_rows_df(spark, rows, "id long, price long, user string"),
        base, stats_cols=["id", "price", "user"], cluster_by="id",
        n_files=8, keep=10,
    )

    def skip(pred):
        return data_skipping_expr(spark, base, pred)

    for c, a, b in (
        ("id", "10", "20"),
        ("id", "30", "12"),
        ("id", "NULL", "20"),
        ("id", "'3'", "20"),
        ("id", "1.5", "9"),
        ("id", "5", "price"),
        ("45", "id", "price"),
        ("user", "'u10'", "'u19'"),
    ):
        between = skip(f"{c} BETWEEN {a} AND {b}")
        assert between == skip(f"{c} >= {a} AND {c} <= {b}"), (c, a, b)
    assert skip("id BETWEEN 10 AND 20") == "(max_id >= 10) AND (min_id <= 20)"
    assert skip("id BETWEEN 10 AND 20 OR price < 50") == skip(
        "(id >= 10 AND id <= 20) OR price < 50"
    )
    assert skip("id NOT BETWEEN 10 AND 20") is None
    got = read_manifest_table(spark, base, where="id BETWEEN 3 AND 4")
    assert len(got.inputFiles()) == 1
    assert sorted(r["id"] for r in got.collect()) == [3, 4]


@pytest.mark.parametrize(
    "narrow, wide",
    [("int", "bigint"), ("tinyint", "smallint"), ("tinyint", "bigint"),
     ("smallint", "int")],
)
def test_dv_sidecars_from_before_and_after_a_widening_read_in_one_scan(
    spark, tmp_path, narrow, wide
):
    """Live files whose deletion vectors were written before a key
    widening (narrow ``__key``) and after it (wide ``__key``) read
    through ONE sidecar scan with the current key type — for the table
    read and for a delete whose candidates carry both generations —
    with the vectorized parquet reader on and off."""
    import pyarrow.parquet as pq

    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import (
        delete_manifest_table,
        evolve_manifest_table,
    )

    base = str(tmp_path / "t")
    model = {i: i * 3 for i in range(-40, 40)}
    write_manifest_table(
        spark, local_rows_df(spark, sorted(model.items()), f"id {narrow}, v long"),
        base, stats_cols=["id"], cluster_by="id", n_files=4, keep=20,
    )

    def delete(keys, typ):
        delete_manifest_table(
            spark, local_rows_df(spark, [(k,) for k in keys], f"id {typ}"),
            base, "id", keep=20,
        )
        for k in keys:
            del model[k]

    delete([-35, -10], narrow)  # the two low files: narrow sidecar
    evolve_manifest_table(spark, base, widen={"id": wide}, keep=20)
    delete([10, 30], wide)  # the two high files: wide sidecar
    # candidates carrying one narrow and one wide sidecar generation
    delete([-34, 11], wide)
    dirs = {r["dv_path"] for r in manifest_stats(spark, base).collect()}
    key_types = {
        str(pq.read_table(f"{base}/{d}").schema.field("__key").type)
        for d in dirs
    }
    assert None not in dirs and len(key_types) == 2, key_types

    want = set(model.items())
    window = {(k, v) for k, v in want if -36 <= k <= 12}
    try:
        for vectorized in ("true", "false"):
            spark.conf.set(
                "spark.sql.parquet.enableVectorizedReader", vectorized
            )
            got = read_manifest_table(spark, base)
            assert dict(got.dtypes)["id"] == wide
            assert {(r["id"], r["v"]) for r in got.collect()} == want
            pruned = read_manifest_table(
                spark, base, where="id >= -36 AND id <= 12"
            )
            assert {(r["id"], r["v"]) for r in pruned.collect()} == window
    finally:
        spark.conf.unset("spark.sql.parquet.enableVectorizedReader")


def test_local_batch_guards_refuse_on_the_driver_and_publish_nothing(
    spark, tmp_path, spark_jobs
):
    """NULL and duplicate keys in a driver-local batch refuse with the
    aggregate path's exact messages, without a Spark job, and publish
    nothing; a distributed batch refuses the same way."""
    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources.manifest import delete_manifest_table

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(20)]), base,
        stats_cols=["id"], cluster_by="id", n_files=2, keep=10,
    )
    null_msg = (
        "merge batch contains NULL 'id' keys; manifest merge requires "
        "non-null keys"
    )
    dup_msg = r"merge batch carries duplicate 'id' keys \(3 rows, 2 distinct\)"
    del_msg = "delete batch contains NULL 'id' keys; a NULL never lands"
    def local(rows, schema):
        return local_rows_df(spark, rows, schema)

    for make in (local, spark.createDataFrame):
        with spark_jobs() as jobs:
            with pytest.raises(ValueError, match=null_msg):
                merge_manifest_table(
                    spark, make([(1, 5), (None, 6)], "id long, v long"),
                    base, "id",
                )
            with pytest.raises(ValueError, match=dup_msg):
                merge_manifest_table(
                    spark, make([(1, 5), (1, 6), (2, 7)], "id long, v long"),
                    base, "id",
                )
            with pytest.raises(ValueError, match=del_msg):
                delete_manifest_table(
                    spark, make([(None,), (3,)], "id long"), base, "id"
                )
            if make is local:
                assert jobs() == 0
    assert read_manifest_version(spark, base) == 0
    assert _content(spark, base) == {(i, i) for i in range(20)}


@pytest.mark.parametrize(
    "table_type, batch_type",
    [("bigint", "bigint"), ("bigint", "int"), ("string", "string"),
     ("date", "date"), ("decimal(12,2)", "decimal(12,2)")],
)
def test_driver_bounds_match_the_aggregate(
    spark, tmp_path, spark_jobs, table_type, batch_type
):
    """On seeded random local batches (NULLs, duplicates, keys inside,
    between and outside the files' ranges) the driver-side bounds,
    counts and candidate fold equal the Spark aggregate's over the same
    rows, and cost no job."""
    import datetime
    import decimal
    import random

    from pyspark.sql.types import StructType

    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources import manifest as M

    to_key = {
        "bigint": int,
        "int": int,
        # code points above U+FFFF order after U+FF5E in UTF-8 (and in
        # Python), but before it in UTF-16
        "string": lambda i: f"k{i:+04d}" + "é～😀"[i % 3],
        "date": lambda i: datetime.date(2020, 1, 1) + datetime.timedelta(i),
        "decimal(12,2)": lambda i: decimal.Decimal(i) / 4,
    }
    base = str(tmp_path / "t")
    write_manifest_table(
        spark,
        local_rows_df(
            spark, [(to_key[table_type](i), i) for i in range(0, 400, 2)],
            f"k {table_type}, v long",
        ),
        base, stats_cols=["k"], cluster_by="k", n_files=6, keep=10,
    )
    head = read_manifest_version(spark, base)
    fold = M._cand_fold_files(M._load_manifest(spark, base, head), "k")
    assert fold is not None and len(fold) == 6
    key_type = StructType.fromJson(M._meta(spark, base, head)["schema"])[
        "k"
    ].dataType
    rng = random.Random(f"driver-bounds/{table_type}/{batch_type}")
    for n in (0, 1, 3, 40, 40, 40):
        # a placeholder row filtered away keeps n=0 typed like the rest
        rows = [(None, -1)] + [
            (None if rng.random() < 0.1
             else to_key[batch_type](rng.randrange(-30, 430)), j)
            for j in range(n)
        ]
        schema = f"k {batch_type}, j long"
        local = local_rows_df(spark, rows, schema).where("j >= 0")
        with spark_jobs() as jobs:
            got = M._batch_bounds(local, "k", key_type, fold, distinct=True)
            assert jobs() == 0
        want = M._batch_bounds(
            spark.createDataFrame(rows, schema).where("j >= 0"), "k",
            key_type, fold, distinct=True,
        )
        # the aggregate's max over no non-NULL key is NULL, not false
        want = {
            k: bool(v) if k.startswith("__cand") else v
            for k, v in want.items()
        }
        assert got == want, rows


def test_float_collated_and_distributed_batches_keep_the_aggregate(
    spark, tmp_path, monkeypatch
):
    """Batches the driver cannot fold exactly take the Spark aggregate
    and keep its semantics: a double key (NaN is one distinct value to
    Spark, two to a Python set), a UTF8_LCASE key ('a' and 'A' are one
    key to it) and a parquet-read (distributed) batch."""
    from pyspark.sql.types import StringType

    from tibame_project_spark.localdf import local_rows_df
    from tibame_project_spark.sources import manifest as M

    aggs = []
    real = M._in_clone

    def spy(*frames):
        aggs.extend(1 for f in frames if f.columns[:2] == ["lo", "hi"])
        return real(*frames)

    monkeypatch.setattr(M, "_in_clone", spy)

    base = str(tmp_path / "d")
    write_manifest_table(
        spark,
        local_rows_df(spark, [(i + 0.5, i) for i in range(20)], "k double, v long"),
        base, stats_cols=["k"], cluster_by="k", n_files=2, keep=10,
    )
    merge_manifest_table(
        spark,
        local_rows_df(spark, [(3.5, 30), (40.5, 40)], "k double, v long"),
        base, "k", keep=10,
    )
    assert len(aggs) == 1
    got = {(r["k"], r["v"]) for r in read_manifest_table(spark, base).collect()}
    assert got == {(i + 0.5, i) for i in range(20) if i != 3} | {
        (3.5, 30), (40.5, 40)
    }
    # local_rows_df turns NaN into NULL: project the NaN in instead
    nans = local_rows_df(spark, [(1, 1), (2, 2)], "k long, v long").select(
        F.lit(float("nan")).alias("k"), "v"
    )
    assert M._is_local_relation(nans)
    with pytest.raises(ValueError, match=r"duplicate 'k' keys \(2 rows, 1 distinct\)"):
        merge_manifest_table(spark, nans, base, "k")

    base = str(tmp_path / "s")
    write_manifest_table(
        spark, local_rows_df(spark, [("a", 1), ("b", 2)], "k string, v long"),
        base, stats_cols=["k"], keep=10,
    )
    lcase = local_rows_df(spark, [("a", 1), ("A", 2)], "k string, v long").select(
        F.col("k").cast(StringType("UTF8_LCASE")).alias("k"), "v"
    )
    assert M._is_local_relation(lcase)
    with pytest.raises(ValueError, match=r"duplicate 'k' keys \(2 rows, 1 distinct\)"):
        merge_manifest_table(spark, lcase, base, "k")

    base = str(tmp_path / "p")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(20)]), base,
        stats_cols=["id"], cluster_by="id", n_files=2, keep=10,
    )
    _mk(spark, [(4, 44), (25, 25)]).write.parquet(str(tmp_path / "batch"))
    batch = spark.read.parquet(str(tmp_path / "batch"))
    assert not M._is_local_relation(batch)
    n_aggs = len(aggs)
    merge_manifest_table(spark, batch, base, "id", keep=10)
    assert len(aggs) == n_aggs + 1
    assert _content(spark, base) == {
        (i, i) for i in range(20) if i != 4
    } | {(4, 44), (25, 25)}


def test_local_fold_merge_runs_no_job_before_its_rewrite(
    spark, tmp_path, spark_jobs, monkeypatch
):
    """A driver-local batch merged into a small table (candidate fold)
    over a deletion-vectored candidate launches its first Spark job in
    the rewrite write: bounds, guards, candidacy and the DV sidecar
    read are all planned without one."""
    from tibame_project_spark.sources import manifest as M
    from tibame_project_spark.sources.manifest import delete_manifest_table

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(40)]), base,
        stats_cols=["id"], cluster_by="id", n_files=4, keep=10,
    )
    delete_manifest_table(spark, _mk(spark, [(5, 0)]).select("id"), base, "id")
    assert M._cand_fold_files(M._load_manifest(spark, base, 1), "id") is not None
    seen = []
    real = M._write_data

    def spy(*a, **kw):
        seen.append(jobs())
        return real(*a, **kw)

    monkeypatch.setattr(M, "_write_data", spy)
    with spark_jobs() as jobs:
        merge_manifest_table(spark, _mk(spark, [(3, 33), (6, 66), (41, 41)]), base, "id")
    assert seen == [0]
    want = {(i, i) for i in range(40) if i not in (3, 5, 6)}
    assert _content(spark, base) == want | {(3, 33), (6, 66), (41, 41)}


def test_building_a_pruned_read_over_a_dv_table_runs_no_job(
    spark, tmp_path, spark_jobs
):
    """``read_manifest_table(where=...)`` over files with deletion
    vectors builds its DataFrame without a Spark job: the manifest is
    pruned on the driver and the sidecars are read with a known
    schema, so no schema inference runs."""
    from tibame_project_spark.sources.manifest import delete_manifest_table

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(40)]), base,
        stats_cols=["id"], cluster_by="id", n_files=4, keep=10,
    )
    delete_manifest_table(
        spark, _mk(spark, [(5, 0), (15, 0), (25, 0)]).select("id"), base, "id"
    )
    with spark_jobs() as jobs:
        df = read_manifest_table(spark, base, where="id >= 3 AND id <= 25")
        assert jobs() == 0
    assert sorted(r["id"] for r in df.collect()) == [
        i for i in range(3, 26) if i not in (5, 15, 25)
    ]


def test_table_verbs_resolve_jvm_classes_by_full_name(spark, tmp_path, monkeypatch):
    """A merge, a delete and a pruned read send no py4j reflection command
    that looks up ``org``. That command is the first step of an attribute
    chain like ``jvm.org.apache.hadoop.fs.Path``: each package step of the
    chain is a failed class lookup that scans every jar on the classpath,
    where one fully qualified lookup resolves the class directly."""
    from py4j import protocol as proto

    from tibame_project_spark.sources.manifest import delete_manifest_table

    base = str(tmp_path / "t")
    write_manifest_table(
        spark, _mk(spark, [(i, i) for i in range(40)]), base,
        stats_cols=["id"], cluster_by="id", n_files=4,
    )
    upsert = _mk(spark, [(3, 33), (41, 41)])
    condemned = _mk(spark, [(5, 0), (15, 0)]).select("id")
    client = spark._jvm._gateway_client
    org = (
        proto.REFLECTION_COMMAND_NAME + proto.REFL_GET_UNKNOWN_SUB_COMMAND_NAME
        + "org\n"
    )
    seen = []
    send = client.send_command

    def counting(command, *a, **kw):
        if command.startswith(org):
            seen.append(command)
        return send(command, *a, **kw)

    monkeypatch.setattr(client, "send_command", counting)
    counts = {}
    merge_manifest_table(spark, upsert, base, "id")
    counts["merge"], seen[:] = len(seen), []
    delete_manifest_table(spark, condemned, base, "id")
    counts["delete"], seen[:] = len(seen), []
    rows = read_manifest_table(spark, base, where="id >= 3 AND id <= 20").collect()
    counts["pruned read"] = len(seen)
    monkeypatch.undo()
    assert counts == {"merge": 0, "delete": 0, "pruned read": 0}
    assert sorted(r["id"] for r in rows) == [
        i for i in range(3, 21) if i not in (5, 15)
    ]
