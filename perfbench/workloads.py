"""The benchmark's workloads.

A workload turns the workload seed into a deterministic sequence of
operations. Each operation has an untimed ``prepare`` step, a timed call
into the engine's public functions, and an untimed ``check`` of its output.
Each operation has a kind (a query name, or a kind of table operation)
and belongs to a slot, the group whose median latency the metrics use: a
query is its own slot, and the table workload pools its data-rewriting
commits into one. A pass is one round over all slots, and the workload's
``weights`` say how many operations of each slot one pass holds.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from digest import result_digest
from tracing import file_sizes

HERE = os.path.dirname(os.path.abspath(__file__))

@dataclass
class Op:
    slot: str
    #: the timed call; returns the epoch time its build phase ended, when
    #: it has one separate from the action (queries), else None
    timed: Callable[[], float | None]
    prepare: Callable[[], None] | None = None
    #: untimed output check; returns an error message, or None when correct
    check: Callable[[], str | None] | None = None
    #: filled by the op for write operations: rows in the batch it commits
    batch_rows: int = 0
    info: dict = field(default_factory=dict)
    #: what the op does, when the slot pools several kinds
    kind: str = ""

    def __post_init__(self):
        self.kind = self.kind or self.slot


# --------------------------------------------------------------------------
# read workloads: queries from the engine's query registry
# --------------------------------------------------------------------------

#: Queries of each read workload. ``corpus_dedup`` keeps fuzzy_blocked,
#: whose verification the planned q-gram count filter targets, and the
#: many-small-jobs candidate generation of sparse_topk; the slower corpus
#: queries are left out so that a pass fits several times into one run.
#: ``warehouse_reads`` is not registered in BENCHMARK.json for the same
#: reason: see README.md.
READ_WORKLOADS: dict[str, tuple[str, ...]] = {
    "corpus_dedup": ("fuzzy_blocked", "sparse_topk"),
    "warehouse_reads": (
        "mart_star_trends", "pricing_summary", "left_join_chain",
        "grouping_sets", "cube_rollup", "rolling_avg", "asof_join",
        "range_join", "cohort_retention", "funnel", "month_over_month",
        "window_topk", "customers_without_orders", "percentiles",
    ),
}


def expected_digests() -> dict[str, str]:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)["digests"]


def pass_order(names: tuple[str, ...], seed: int, p: int) -> list[str]:
    """Query order of pass ``p``: a permutation fixed by ``(seed, p)``."""
    order = list(names)
    random.Random(f"{seed}/{p}").shuffle(order)
    return order


class ReadWorkload:
    """Runs read-only queries, each written to the noop sink."""

    def __init__(self, spark, data_dir: str, names: tuple[str, ...], seed: int):
        import __spark_entry__

        self.spark, self.data_dir, self.seed = spark, data_dir, seed
        self.names = names
        self.weights = {n: 1 for n in names}
        self._queries = __spark_entry__.queries()
        self._expected = expected_digests()
        #: query -> why its output is wrong; each of its runs then fails
        self._wrong: dict[str, str] = {}

    def warm_up(self) -> list[str]:
        """One pass that collects every query's rows and checks their
        digest; returns the mismatches. The driver JVM runs C1 only (see
        run.py), so after this pass the queries keep the same latency
        through the timed loop."""
        for name in pass_order(self.names, self.seed, -1):
            err = self._check(name)
            if err:
                self._wrong[name] = err
        return [f"{n}: {m}" for n, m in self._wrong.items()]

    def recheck(self) -> dict[str, str]:
        """After the timed loop: every query collected and checked once
        more, so that a result that goes wrong after the warm-up still
        fails; returns query -> mismatch."""
        return {n: err for n in self.names if (err := self._check(n))}

    def _check(self, name: str) -> str | None:
        df = self._queries[name](self.spark, self.data_dir)
        got = result_digest(df.columns, df.collect())
        if got != self._expected[name]:
            return f"digest {got} != expected {self._expected[name]}"
        return None

    def ops(self) -> Iterator[Op]:
        p = 0
        while True:
            for name in pass_order(self.names, self.seed, p):
                wrong = self._wrong.get(name)
                yield Op(slot=name, timed=self._timed(name),
                         check=(lambda m=wrong: m) if wrong else None)
            p += 1

    def _timed(self, name: str) -> Callable[[], float]:
        def run() -> float:
            df = self._queries[name](self.spark, self.data_dir)
            built = time.time()
            df.write.format("noop").mode("overwrite").save()
            return built
        return run

    def finish(self) -> dict:
        return {}


# --------------------------------------------------------------------------
# table_commits: one manifest table, a seeded sequence of commits and reads
# --------------------------------------------------------------------------

COLUMNS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
)

#: Operations of one pass, in a seeded order per pass. Deletes scatter over
#: the whole key space (every file then carries a deletion vector, so every
#: pruned read pays for applying one), and the two appends of a pass are one
#: plain append and one that compacts.
ROUND = ("merge", "update", "delete", "append", "append", "read", "read")
#: Slots and their operations per pass. Merge, update and delete cost about
#: the same and share the slot ``rewrite``, so that its median rests on
#: three samples a pass; a plain and a compacting append differ by about
#: two times and stay apart.
WEIGHTS = {"rewrite": 3, "append": 1, "append_compact": 1, "read": 2}
COMMIT_SLOTS = ("rewrite", "append", "append_compact")
COMPACT_EVERY = 2
#: below the size of a v0 file, above that of an append output: compaction
#: folds appended files and leaves the clustered v0 files alone, so pruning
#: keeps working
SMALL_BYTES = 24 * 1024


class TableCommits:
    """Merges, updates, deletes, streaming appends and pruned reads against
    one manifest table, replayed in Python as the reference.

    The table is ``orders`` with every key doubled: merges re-insert odd
    keys inside their own key window, so a merge rewrites the files of one
    window rather than also the table's tail.
    """

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int):
        self.spark, self.seed = spark, seed
        self.rng = random.Random(f"table_commits/{seed}")
        self.base = os.path.join(work_dir, "table")
        self.landing = os.path.join(work_dir, "landing")
        self.checkpoint = os.path.join(work_dir, "checkpoint")
        os.makedirs(self.landing)
        self.weights = WEIGHTS
        self._data_dir = data_dir
        table = pq.read_table(os.path.join(data_dir, "orders.parquet"), columns=list(COLUMNS))
        self._arrow_schema = table.schema
        #: the reference: o_orderkey -> row tuple in COLUMNS order
        self.model = {
            2 * r[0]: (2 * r[0], *r[1:])
            for r in zip(*(table.column(c).to_pylist() for c in COLUMNS))
        }
        self.next_key = max(self.model) + 1
        self._epoch = 0

    # ---- set-up ---------------------------------------------------------

    def create(self) -> None:
        """Write v0: the orders table clustered on its key in 8 files."""
        from pyspark.sql import functions as F

        from tibame_project_spark.catalog import load
        from tibame_project_spark.sources.manifest import write_manifest_table

        df = load(self.spark, self._data_dir, "orders").select(*COLUMNS)
        df = df.withColumn("o_orderkey", F.col("o_orderkey") * 2)
        self.schema = df.schema
        write_manifest_table(
            self.spark, df, self.base,
            stats_cols=["o_orderkey"], cluster_by="o_orderkey", n_files=8,
        )

    def warm_up(self) -> list[str]:
        """One round of every kind of commit, two appends so that the
        second one compacts; returns the mismatches, none here: commits are
        checked with the whole table at the end. The driver JVM runs C1
        only (see run.py), so after one round the commits keep the same
        latency through the timed loop. Reads are left out to keep the
        set-up short: a run holds four, and the median of four is not moved
        by a slow first one."""
        for kind in ("merge", "update", "delete", "append", "append"):
            op = self._make(kind)
            if op.prepare:
                op.prepare()
            op.timed()
        return []

    # ---- the operation sequence ----------------------------------------

    def ops(self) -> Iterator[Op]:
        p = 0
        while True:
            kinds = list(ROUND)
            random.Random(f"{self.seed}/{p}").shuffle(kinds)
            for kind in kinds:
                yield self._make(kind)
            p += 1

    def _make(self, kind: str) -> Op:
        return getattr(self, f"_{kind}")()

    def _window(self, lo_n: int, hi_n: int) -> tuple[int, int]:
        """A seeded key range ``lo_n``..``hi_n`` keys wide inside the key space."""
        width = self.rng.randint(lo_n, hi_n)
        lo = self.rng.randint(0, max(self.next_key - width, 0))
        return lo, lo + width - 1

    def _live(self, lo: int, hi: int) -> list[int]:
        return [k for k in range(lo, hi + 1) if k in self.model]

    def _new_row(self, key: int, tag: str) -> tuple:
        day = dt.datetime(1995, 1, 1) + dt.timedelta(days=self.rng.randrange(2404))
        return (key, self.rng.randrange(1000), "N",
                self.rng.randint(100000, 50000000) / 100, day, tag)

    def _merge(self) -> Op:
        from tibame_project_spark.localdf import local_rows_df
        from tibame_project_spark.sources.manifest import merge_manifest_table

        lo, hi = self._window(500, 700)
        live = self._live(lo, hi)
        n_upd, n_del = len(live) * 6 // 10, len(live) * 2 // 10
        chosen = self.rng.sample(live, n_upd + n_del)
        upd, dele = chosen[:n_upd], chosen[n_upd:]
        free = [k for k in range(lo, hi + 1) if k not in self.model]
        ins = sorted(self.rng.sample(free, min(len(free), len(live) // 5)))
        tag = f"M{self.rng.randrange(10**6)}"
        rows = [(*self.model[k][:5], tag, False) for k in upd]
        rows += [(*self.model[k], True) for k in dele]
        rows += [(*self._new_row(k, tag), False) for k in ins]
        for r in rows:
            if r[-1]:
                del self.model[r[0]]
            else:
                self.model[r[0]] = r[:-1]
        state = {}

        def prepare():
            from pyspark.sql.types import BooleanType, StructField, StructType

            schema = StructType(
                self.schema.fields + [StructField("is_deleted", BooleanType())]
            )
            state["df"] = local_rows_df(self.spark, rows, schema)

        def timed():
            merge_manifest_table(
                self.spark, state["df"], self.base, "o_orderkey",
                delete_col="is_deleted",
            )

        return Op("rewrite", timed, prepare=prepare, batch_rows=len(rows), kind="merge")

    def _update(self) -> Op:
        from tibame_project_spark.sources.manifest import update_manifest_table

        lo, hi = self._window(400, 600)
        tag = f"U{self.rng.randrange(10**6)}"
        keys = self._live(lo, hi)
        for k in keys:
            self.model[k] = (*self.model[k][:5], tag)

        def timed():
            update_manifest_table(
                self.spark, self.base, {"o_orderpriority": f"'{tag}'"},
                f"o_orderkey >= {lo} AND o_orderkey <= {hi}",
                prune=f"max_o_orderkey >= {lo} AND min_o_orderkey <= {hi}",
            )

        return Op("rewrite", timed, batch_rows=len(keys), kind="update")

    def _delete(self) -> Op:
        from tibame_project_spark.localdf import local_rows_df
        from tibame_project_spark.sources.manifest import delete_manifest_table

        keys = sorted(self.rng.sample(sorted(self.model), self.rng.randint(80, 120)))
        for k in keys:
            del self.model[k]
        state = {}

        def prepare():
            state["df"] = local_rows_df(self.spark, [(k,) for k in keys], "o_orderkey long")

        def timed():
            delete_manifest_table(self.spark, state["df"], self.base, "o_orderkey")

        return Op("rewrite", timed, prepare=prepare, batch_rows=len(keys), kind="delete")

    def _append(self) -> Op:
        from tibame_project_spark.streaming.incremental import (
            stream_append_manifest_table,
        )

        n = self.rng.randint(150, 250)
        tag = f"A{self.rng.randrange(10**6)}"
        rows = [self._new_row(k, tag) for k in range(self.next_key, self.next_key + n)]
        self.next_key += n
        for r in rows:
            self.model[r[0]] = r
        # the stream's epochs count appends from 0; the sink compacts after
        # every COMPACT_EVERY-th epoch
        epoch = self._epoch
        self._epoch += 1
        path = os.path.join(self.landing, f"part-{epoch:05d}.parquet")

        def prepare():
            # land the file atomically: the stream must never see it half-written
            table = pa.Table.from_pylist(
                [dict(zip(COLUMNS, r)) for r in rows], schema=self._arrow_schema
            )
            pq.write_table(table, path + ".tmp")
            os.rename(path + ".tmp", path)

        def timed():
            stream_append_manifest_table(
                self.spark.readStream.schema(self.schema).parquet(self.landing),
                self.base, checkpoint=self.checkpoint, stats_cols=["o_orderkey"],
                app_id="perfbench", cluster_by="o_orderkey",
                compact_every=COMPACT_EVERY, small_bytes=SMALL_BYTES,
            )

        slot = "append_compact" if (epoch + 1) % COMPACT_EVERY == 0 else "append"
        return Op(slot, timed, prepare=prepare, batch_rows=n)

    def _read(self) -> Op:
        from tibame_project_spark.sources.manifest import read_manifest_table

        # wide enough to span several files, so that nearly every read
        # applies deletion vectors
        lo, hi = self._window(10000, 14000)
        # data_skipping_expr translates comparisons but not BETWEEN
        where = f"o_orderkey >= {lo} AND o_orderkey <= {hi}"
        expected = [self.model[k] for k in self._live(lo, hi)]

        def timed() -> float:
            df = read_manifest_table(self.spark, self.base, where=where)
            built = time.time()
            df.write.format("noop").mode("overwrite").save()
            return built

        def check():
            df = read_manifest_table(self.spark, self.base, where=where).select(*COLUMNS)
            return self._compare(df.collect(), expected, where)

        return Op("read", timed, check=check, info={"where": where})

    # ---- checks ----------------------------------------------------------

    @staticmethod
    def _compare(got: list, expected: list, what: str) -> str | None:
        g, e = result_digest(COLUMNS, got), result_digest(COLUMNS, expected)
        if g != e or len(got) != len(expected):
            return f"{what}: {len(got)} rows ({g}), reference has {len(expected)} ({e})"
        return None

    def check_table(self) -> str | None:
        """The whole table against the replay."""
        from tibame_project_spark.sources.manifest import read_manifest_table

        df = read_manifest_table(self.spark, self.base).select(*COLUMNS)
        return self._compare(df.collect(), list(self.model.values()), "final table")

    def finish(self) -> dict:
        from tibame_project_spark.sources.manifest import manifest_table_stats

        on_disk = sum(file_sizes(self.base).values())
        stats = manifest_table_stats(self.spark, self.base)
        return {
            "space_amp": on_disk / max(int(stats["sizeInBytes"]), 1),
            "live_files": int(stats["numFiles"]),
            "live_bytes": int(stats["sizeInBytes"]),
            "table_bytes_on_disk": on_disk,
        }
