"""Tests of the benchmark's own code: seeding, the metric arithmetic, and
job-group attribution on a one-thread Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import pytest

import datagen
import run
import workloads
from digest import result_digest
from tracing import Tracer, cpu_delta, self_time, span_union, tail, tree_cpu_s

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL = {"customer": 50, "supplier": 5, "part": 40, "orders": 2000,
         "lineitem": 100, "events": 50, "documents": 20, "embeddings": 20}


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("data"))
    datagen.write_tables(d, SMALL)
    return d


def _sequence(data_dir, tmp_path, seed, n=24):
    """The first ``n`` operations' kinds, batch sizes and read ranges, and
    the reference table they leave; no Spark involved."""
    wl = workloads.TableCommits(None, data_dir, str(tmp_path / f"w{seed}"), seed)
    ops = wl.ops()
    seq = []
    for _ in range(n):
        op = next(ops)
        seq.append((op.kind, op.batch_rows, op.info.get("where")))
    return seq, dict(wl.model)


def test_same_seed_same_batches_and_order(data_dir, tmp_path):
    a = _sequence(data_dir, tmp_path / "a", 7)
    b = _sequence(data_dir, tmp_path / "b", 7)
    assert a == b


def test_other_seed_other_batches_and_order(data_dir, tmp_path):
    (seq7, model7), (seq8, model8) = (
        _sequence(data_dir, tmp_path / "a", 7), _sequence(data_dir, tmp_path / "b", 8)
    )
    assert [s[0] for s in seq7] != [s[0] for s in seq8]
    assert [s[1:] for s in seq7] != [s[1:] for s in seq8]
    assert model7 != model8


def test_read_order_is_seeded():
    names = workloads.READ_WORKLOADS["warehouse_reads"]
    assert workloads.pass_order(names, 3, 0) == workloads.pass_order(names, 3, 0)
    assert workloads.pass_order(names, 3, 0) != workloads.pass_order(names, 4, 0)
    assert sorted(workloads.pass_order(names, 3, 1)) == sorted(names)


def test_inputs_do_not_depend_on_the_workload_seed(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.write_tables(str(a), SMALL)
    datagen.write_tables(str(b), SMALL)
    for name in os.listdir(a):
        assert (a / name).read_bytes() == (b / name).read_bytes()


def test_tail_keeps_ten_samples_beyond():
    assert tail([float(x) for x in range(1, 101)]) == (90.0, 90.0)
    value, pct = tail([float(x) for x in range(1, 12)])
    assert value == 1.0 and pct == pytest.approx(100 / 11)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    with pytest.raises(ValueError):
        tail([])


def test_self_time_subtracts_union_of_overlapping_children():
    assert span_union([(1, 3), (2, 5), (8, 12)]) == 8
    # children (1,3) and (2,5) overlap into 4 s; (8,12) is clipped to (8,10)
    assert self_time(0, 10, [(1, 3), (2, 5), (8, 12)]) == 4
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(11, 12), (-5, -1)]) == 10
    assert self_time(0, 10, [(0, 10), (2, 3)]) == 0


def test_metric_names_and_benchmark_json():
    name = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    for metric in [*run.END_TO_END, *run.PER_LAYER]:
        assert name.fullmatch(metric), metric
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        units = run.END_TO_END if m in spec["end_to_end"] else run.PER_LAYER
        assert m["unit"] == units[m["name"]]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_digest_matches_equal_values_across_types():
    import decimal

    a = result_digest(["b", "a"], [(1, "x"), (2.5, None)])
    b = result_digest(["a", "b"], [(decimal.Decimal("2.50"), None), (1.0, "x")])
    assert a == b
    assert a != result_digest(["a", "b"], [(1, "x")])
    assert result_digest(["a"], [(-1,)]) != result_digest(["a"], [(-2,)])


def test_digest_counts_duplicate_rows():
    once, twice = result_digest(["a"], [(1,)]), result_digest(["a"], [(1,), (1,)])
    assert once != twice
    assert twice.startswith("2:")
    assert result_digest(["a"], [(1,), (2,), (1,)]) == result_digest(["a"], [(1,), (1,), (2,)])


def test_suspect_flags_wall_rise_without_cpu_or_jobs():
    hist = [{"pass_s": 10.0, "jvm_cpu_s_per_pass": 20.0, "jobs_per_pass": 30.0}] * 3
    slow_idle = {"pass_s": 12.0, "jvm_cpu_s_per_pass": 20.0, "jobs_per_pass": 30.0}
    slow_busy = {"pass_s": 12.0, "jvm_cpu_s_per_pass": 24.0, "jobs_per_pass": 30.0}
    assert run.suspect(hist, slow_idle)
    assert run.suspect(hist, slow_busy) is None
    assert run.suspect([], slow_idle) is None


def test_cpu_delta_counts_children_and_skips_ended_ones():
    assert cpu_delta({1: 2.0, 2: 5.0}, {1: 2.5, 3: 0.25}) == 0.75
    before = tree_cpu_s(os.getpid())
    # a child that burns 0.3 s of CPU, then waits for its input to close
    child = subprocess.Popen(
        [sys.executable, "-c", "import sys, time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.3: pass\nsys.stdin.read()"],
        stdin=subprocess.PIPE,
    )
    try:
        deadline = time.monotonic() + 30
        while tree_cpu_s(os.getpid()).get(child.pid, 0.0) < 0.3:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        assert cpu_delta(before, tree_cpu_s(os.getpid())) >= 0.3
    finally:
        child.communicate(b"", timeout=60)


def test_end_descendants_waits_for_orphaned_grandchildren():
    """A process whose parent exits is adopted by the run and ended with
    the others; in a child interpreter, which may kill all it started."""
    code = (
        "import os, subprocess, run, tracing\n"
        "run.become_subreaper()\n"
        "out = subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'],\n"
        "                     capture_output=True, text=True).stdout\n"
        "orphan = int(out)\n"
        "assert orphan in tracing.process_tree(os.getpid())\n"
        "run.end_descendants(0.2)\n"
        "print(sorted(tracing.process_tree(os.getpid()) - {os.getpid()}), orphan)\n"
    )
    here = os.path.join(ROOT, "perfbench")
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([here, ROOT])}
    out = subprocess.run([sys.executable, "-c", code], cwd=here, env=env,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    left, orphan = out.stdout.rsplit(" ", 1)
    assert left == "[]"
    assert not os.path.exists(f"/proc/{int(orphan)}")


def test_job_group_attribution_on_one_thread_session():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[1]").appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    try:
        tracer = Tracer(spark)
        spark.range(10).count()  # outside any group

        tracer.begin("op-a")
        start = time.time()
        df = spark.range(1000).selectExpr("id % 7 AS k")
        df.collect()  # an eager job during the build
        built = time.time()
        df.groupBy("k").count().write.format("noop").mode("overwrite").save()
        end = time.time()
        tracer.end()

        tracer.begin("op-b")
        b_start = time.time()
        spark.range(5).count()
        b_end = time.time()
        tracer.end()

        a_jobs, b_jobs = tracer.job_ids("op-a"), tracer.job_ids("op-b")
        assert a_jobs and b_jobs and not set(a_jobs) & set(b_jobs)
        a = tracer.collect(a_jobs, start, end, built)
        assert a.jobs == len(a_jobs) >= 2
        assert a.eager_jobs == 1
        assert a.stages >= 2 and a.tasks >= a.stages
        assert a.input_rows == 2000  # the range read once by each job
        assert 0 <= a.self_s <= a.wall_s
        b = tracer.collect(b_jobs, b_start, b_end)
        assert b.jobs == len(b_jobs) and b.eager_jobs == 0
        # nothing ran under a group after it was cleared
        spark.range(3).count()
        assert tracer.job_ids("op-b") == b_jobs
    finally:
        spark.stop()
