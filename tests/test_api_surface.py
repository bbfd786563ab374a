"""Coverage for the thin public-API rows that no driver query exercises —
each maps to a SURVEY §2 row or a documented engine extension, and an
untested export is one rename away from silent breakage."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def test_distinct_rows_and_dim_type(spark):
    """D1 full-row DISTINCT, and the dim_type plan built on it."""
    from tibame_project_spark.operators.dedup import distinct_rows
    from tibame_project_spark.plans.attractions import dim_type

    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], ["id", "v"])
    assert sorted(tuple(r) for r in distinct_rows(df).collect()) == [(1, "a"), (2, "b")]

    ta = spark.createDataFrame([("museum",), ("museum",), ("park",)], ["type"])
    ids = spark.createDataFrame([(10, "museum"), (20, "park"), (30, "zoo")], ["type_id", "type"])
    got = sorted(tuple(r) for r in dim_type(ta, ids).collect())
    assert got == [(10, "museum"), (20, "park")]


def test_explode_delimited_trims_elements(spark):
    """F11+F12: split on the reference's bullet delimiter, trim, explode."""
    from tibame_project_spark.operators.reshape import explode_delimited

    df = spark.createDataFrame([(1, "a • b •c")], ["id", "tags"])
    got = sorted(
        (r.id, r.tags) for r in explode_delimited(df, "tags", delim="•").collect()
    )
    assert got == [(1, "a"), (1, "b"), (1, "c")]


def test_header_transpose_builds_mapping(spark):
    """F14: the header row becomes a (column_name, value) mapping table."""
    from tibame_project_spark.operators.reshape import header_transpose

    df = spark.createDataFrame(
        [("header", "機關", "年度"), ("data", "x", "y")], ["kind", "c1", "c2"]
    )
    got = {
        r.column_name: r.value
        for r in header_transpose(
            df, F.col("kind") == "header", "column_name", ["c1", "c2"]
        ).collect()
    }
    assert got == {"c1": "機關", "c2": "年度"}


def test_lookup_join_broadcasts(spark):
    """J8: the lookup side must plan as a broadcast-hash join."""
    from tibame_project_spark.operators.joins import lookup_join

    df = spark.createDataFrame([(1, 10), (2, 20)], ["k", "v"])
    dim = spark.createDataFrame([(1, "one")], ["k", "name"])
    out = lookup_join(df, dim, "k")
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()
    rows = {(r.k, r.name) for r in out.collect()}
    assert rows == {(1, "one"), (2, None)}


def test_save_table_lifecycle(spark):
    """S8/S9/S10: saveAsTable overwrite + the mode='ignore' create guard."""
    from tibame_project_spark.sources.writers import save_table

    df = spark.createDataFrame([(1,), (2,)], ["x"])
    save_table(df, "api_surface_t", mode="overwrite")
    assert spark.table("api_surface_t").count() == 2
    # ignore: existing table left untouched
    save_table(spark.createDataFrame([(99,)], ["x"]), "api_surface_t", mode="ignore")
    assert spark.table("api_surface_t").count() == 2
    spark.sql("DROP TABLE api_surface_t")


def test_pagerank_integer_symmetric_cycle(spark):
    """Exact integer PageRank: a directed cycle is rank-symmetric, total
    mass stays within N div-truncations of scale, and results are BIGINT
    (bit-identical under any partitioning — no float drift)."""
    from tibame_project_spark.operators.graph import pagerank_integer

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    ranks = {r.node: r.rank for r in pagerank_integer(edges, "src", "dst").collect()}
    assert set(ranks) == {"a", "b", "c"}
    assert len(set(ranks.values())) == 1  # symmetry -> identical ranks
    scale = 10**12
    assert scale - 3 * 3 <= sum(ranks.values()) <= scale  # mass conservation


def test_serving_attraction_history_contract(spark):
    """init.sql attraction_history projection: names and int casts."""
    from tibame_project_spark.plans.serving import serving_attraction_history

    fact = spark.createDataFrame(
        [("A1", "2024", "7", "1500")], ["attraction_id", "year", "month", "number_people"]
    )
    out = serving_attraction_history(fact)
    assert out.columns == ["attraction_id", "year", "month", "number_people"]
    row = out.collect()[0]
    assert (row.year, row.month, row.number_people) == (2024, 7, 1500)
    assert dict(out.dtypes)["number_people"] == "int"


def test_ngram_jaccard_pairs_blocked_variant(spark):
    """The min-shingle-blocked probabilistic variant agrees with the exact
    one on pairs whose Jaccard clears the threshold AND share their global
    min shingle (identical docs trivially do)."""
    from tibame_project_spark.operators.dedup import (
        ngram_jaccard_exact_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words entirely here now"),
        ],
        ["doc_id", "text"],
    )
    blocked = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_exact_pairs(
            docs, "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert blocked == exact == {(1, 2): 1.0}


def test_shared_item_postings_memoizes_per_session_and_sf(spark):
    """sparse_topk and hybrid_rerank must reference the SAME postings build
    (that is the shared-inverted-index contract); switching corpora must
    rebuild, and the memo must not grow without bound: one entry per
    index, so the fuzzy_blocked dimension sketch neither evicts the
    postings nor is evicted by them."""
    import __spark_entry__ as entry
    from tests.conftest import SF_DIR

    entry._INDEX_MEMO.clear()
    a1 = entry._shared_item_postings(spark, "/root/testdata/sf0.001")
    a2 = entry._shared_item_postings(spark, "/root/testdata/sf0.001")
    assert a1 is a2
    b = entry._shared_item_postings(spark, "/root/testdata/sf0.01")
    assert b is not a1
    assert len(entry._INDEX_MEMO) == 1  # one corpus at a time
    entry.q_fuzzy_blocked(spark, SF_DIR)
    sketch = entry._INDEX_MEMO["customer_band_sketch"][1]
    entry.q_fuzzy_blocked(spark, SF_DIR)
    assert entry._INDEX_MEMO["customer_band_sketch"][1] is sketch
    assert entry._INDEX_MEMO["item_postings"][1] is b
    assert len(entry._INDEX_MEMO) == 2


def test_built_once_indexes_follow_a_rewritten_input(spark, tmp_path):
    """Within one session, rewriting documents.parquet or customer.parquet
    must not leave sparse_topk or fuzzy_blocked answering from the index
    built over the file's old contents: each equals a fresh build (a new
    session, which shares no memo entry) after the rewrite."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from tests.conftest import SF_DIR

    sf = str(tmp_path)
    for t in ("documents", "supplier", "customer"):
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), sf)
    queries = entry.queries()

    def rows(session, name):
        return sorted(tuple(r) for r in queries[name](session, sf).collect())

    def rewrite(table, col, values):
        path = os.path.join(sf, f"{table}.parquet")
        t = pq.read_table(path)
        i = t.schema.get_field_index(col)
        new = values(t.column(col).to_pylist())
        t = t.set_column(i, t.schema.field(i), pa.array(new, t.schema.field(i).type))
        pq.write_table(t, path + ".tmp")
        os.replace(path + ".tmp", path)

    suppliers = pq.read_table(os.path.join(sf, "supplier.parquet")).column("s_name")
    cases = [
        # roll the texts by one document: every query's neighbours move
        ("sparse_topk", "documents", "text", lambda v: v[1:] + v[:1]),
        # give the first customers the suppliers' names: exact matches
        ("fuzzy_blocked", "customer", "c_name",
         lambda v: suppliers.to_pylist() + v[len(suppliers):]),
    ]
    for name, table, col, values in cases:
        before = rows(spark, name)
        assert rows(spark, name) == before  # served from the memo
        rewrite(table, col, values)
        after = rows(spark, name)
        fresh = rows(spark.newSession(), name)
        assert fresh != before, name  # the rewrite changes the answer
        assert after == fresh, name

    # an input with no stamp (here a directory) is built on every call
    builds = []

    def build():
        builds.append(1)
        return spark.range(1)

    for _ in range(2):
        entry._built_once(spark, "unstamped", (), [sf], build)
    assert len(builds) == 2 and "unstamped" not in entry._INDEX_MEMO


def _pagerank_model(edges, iterations=3, num=85, den=100, scale=10**12):
    """Pure-Python twin of pagerank_integer's redistribute recurrence."""
    srcs = {s for s, _ in edges}
    nodes = sorted(srcs | {d for _, d in edges})
    sinks = [n for n in nodes if n not in srcs]
    deg = {}
    for s, _ in set(edges):
        deg[s] = deg.get(s, 0) + 1
    n = len(nodes)
    r = {v: scale // n for v in nodes}
    for _ in range(iterations):
        dm = sum(r[v] for v in sinks)
        csum = {v: 0 for v in nodes}
        for s, d in set(edges):
            csum[d] += r[s] // deg[s]
        r = {
            v: (scale * (den - num)) // (den * n)
            + (num * (csum[v] + dm // n)) // den
            for v in nodes
        }
    return r


def test_pagerank_integer_dangling_redistribute(spark):
    """r08 (VERDICT r07 #4): a graph WITH a sink — dangling mass is pooled
    and redistributed each round, bit-identical to the pure-Python integer
    model, and total mass is conserved within the truncation bound (the
    pre-r08 code silently dropped contributions into the sink)."""
    from tibame_project_spark.operators.graph import pagerank_integer

    # d is a pure sink: a->b->c->a cycle feeding d via b->d
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("b", "d")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    ranks = {r.node: r.rank for r in pagerank_integer(df, "src", "dst").collect()}
    assert ranks == _pagerank_model(edges)
    scale = 10**12
    assert scale - 4 * 4 * 3 <= sum(ranks.values()) <= scale


def test_pagerank_integer_dangling_raise_and_fast_path(spark):
    """raise mode fails fast on a sink; on a sink-free graph redistribute
    and assume_none take the identical recurrence (bit-equal ranks)."""
    import pytest

    from tibame_project_spark.operators.graph import pagerank_integer

    sink = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with pytest.raises(ValueError, match="dangling"):
        pagerank_integer(sink, "src", "dst", dangling="raise")

    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")], ["src", "dst"]
    )
    via_probe = {r.node: r.rank
                 for r in pagerank_integer(cyc, "src", "dst").collect()}
    assumed = {r.node: r.rank
               for r in pagerank_integer(cyc, "src", "dst",
                                         dangling="assume_none").collect()}
    assert via_probe == assumed


def test_engine_has_no_range_partitioned_writer():
    """Every clustered layout goes through ``writers._clustered_write``,
    whose file boundaries come from the rows. Spark's
    ``repartitionByRange`` seeds its boundary sample from the RDD id, so
    a layout written through it changes with the process's history."""
    import pathlib

    import tibame_project_spark

    root = pathlib.Path(tibame_project_spark.__file__).parent
    hits = [
        f"{p.relative_to(root)}:{i}"
        for p in sorted(root.rglob("*.py"))
        for i, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        if "repartitionByRange" in line
    ]
    assert hits == []


def test_every_engine_import_resolves():
    """Every ``from tibame_project_spark... import name`` (and ``import
    tibame_project_spark...``) in the package, the tests, ``tools/``,
    ``perfbench/``, ``__spark_entry__.py`` and ``bench.py`` names
    something that exists, function-local imports included: a lazy
    import of a deleted symbol breaks at run time, not at collection."""
    import ast
    import importlib
    import pathlib

    def resolves(module: str, name: str | None) -> bool:
        try:
            mod = importlib.import_module(module)
            if name is None or hasattr(mod, name):
                return True
            importlib.import_module(f"{module}.{name}")
            return True
        except ImportError:
            return False

    repo = pathlib.Path(__file__).resolve().parent.parent
    files = [repo / "__spark_entry__.py", repo / "bench.py"] + [
        p
        for d in ("tibame_project_spark", "tests", "tools", "perfbench")
        for p in sorted((repo / d).rglob("*.py"))
    ]
    checked, missing = 0, []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.ImportFrom) and not node.level:
                pairs = [(node.module, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                pairs = [(a.name, None) for a in node.names]
            else:
                continue
            for module, name in pairs:
                if module.split(".")[0] != "tibame_project_spark":
                    continue
                checked += 1
                if not resolves(module, name):
                    missing.append(
                        f"{path.relative_to(repo)}:{node.lineno} {module} {name}"
                    )
    assert checked and missing == []


def test_every_docstring_reference_resolves():
    """Every ``:func:``, ``:class:``, ``:data:`` and ``:mod:`` reference in
    the package's docstrings names a symbol that exists — resolved as
    Sphinx would: absolute, relative to the package, to the referring
    module, or (leading ``.``) to the referring module's package. A
    docstring that still points at a deleted function reads as live
    documentation of a path the engine no longer has."""
    import ast
    import importlib
    import pathlib
    import re

    def lookup(dotted: str) -> bool:
        parts = dotted.split(".")
        for i in range(len(parts), 0, -1):
            try:
                obj = importlib.import_module(".".join(parts[:i]))
            except ImportError:
                continue
            for attr in parts[i:]:
                if not hasattr(obj, attr):
                    return False
                obj = getattr(obj, attr)
            return True
        return False

    role = re.compile(r":(?:func|class|data|mod):`~?([^`]+)`")
    repo = pathlib.Path(__file__).resolve().parent.parent
    pkg = repo / "tibame_project_spark"
    checked, missing = 0, []
    for path in sorted(pkg.rglob("*.py")):
        module = ".".join(path.relative_to(repo).with_suffix("").parts)
        module = module.removesuffix(".__init__")
        package = module if path.name == "__init__.py" else module.rpartition(".")[0]
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(
                node,
                (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
            ):
                continue
            doc = ast.get_docstring(node, clean=False) or ""
            for m in role.finditer(doc):
                target = "".join(m.group(1).split())
                checked += 1
                if target.startswith("."):
                    candidates = [package + target]
                else:
                    candidates = [
                        target,
                        f"tibame_project_spark.{target}",
                        f"{module}.{target}",
                    ]
                if not any(lookup(c) for c in candidates):
                    missing.append(f"{path.relative_to(repo)}:{node.lineno} {target}")
    assert checked and missing == []
