"""Benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs under
``perfbench/.work/``, starts one Spark session sized to the host, sets up
and warms the workload, then runs its operations for ``--seconds`` (whole
passes, two at least) and checks outputs outside the timed spans, as
README.md describes. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The lines before it are a readable report,
and ``perfbench/.results/`` receives the per-operation trace. See README.md.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import datagen  # noqa: E402
import workloads  # noqa: E402
from tracing import (  # noqa: E402
    Tracer,
    cpu_delta,
    cpu_ticks,
    file_sizes,
    jit_cpu_s,
    per_pass,
    proc_cpu_s,
    process_tree,
    tail,
    tree_cpu_s,
    tree_peak_rss_mb,
)

WORKLOADS = ("corpus_dedup", "table_commits", "warehouse_reads")
#: an operation still running after this long is cancelled and counted failed
OP_TIMEOUT_S = 60.0
#: the whole run gives up (without a result) after this long
RUN_TIMEOUT_S = 170.0
#: passes the timed loop runs at least, however short ``--seconds``: every
#: slot median then rests on two samples or more
MIN_PASSES = 2
#: seconds the JVM gets to exit after its standard input closes
JVM_EXIT_S = 30.0
#: seconds a killed process gets to end before the run gives up on it
KILL_WAIT_S = 10.0
#: a run whose time per pass rose by more than this over the checkout's
#: earlier runs, while its CPU per pass and jobs per pass did not, is flagged
SUSPECT_RISE = 0.10

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "read_cpu_p50_s": "s", "peak_rss_mb": "MB"}
#: wall-clock twins of the CPU metrics: in the report, not registered,
#: because on a host with CPU-steal bursts they spread past any bound
WALL = {"pass_s": "s", "read_p50_s": "s"}
PER_LAYER = {
    "session.boot_s": "s", "session.first_job_s": "s",
    "plan.build_s": "s", "plan.eager_jobs": "count", "driver.self_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.cpu_frac": "frac", "spark.exec_run_s": "s", "spark.exec_cpu_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.gc_s": "s",
    "catalog.input_mb": "MB", "catalog.input_rows": "count",
    "manifest.jobs_per_commit": "count", "manifest.files_added": "count",
    "manifest.files_removed": "count", "manifest.bytes_written_mb": "MB",
    "manifest.write_amp": "ratio", "manifest.live_files": "count",
    "manifest.scan_frac": "frac", "manifest.compact_s": "s",
    "streaming.add_batch_s": "s", "streaming.trigger_s": "s",
    "host.steal_frac": "frac", "trace.overhead_ratio": "ratio",
}
#: per-op OpTrace fields reported per pass (sum over slots of slot medians)
_PASS_FIELDS = {
    "plan.build_s": "build_s", "plan.eager_jobs": "eager_jobs",
    "driver.self_s": "self_s", "spark.jobs": "jobs", "spark.stages": "stages",
    "spark.tasks": "tasks", "spark.exec_run_s": "exec_run_s",
    "spark.exec_cpu_s": "exec_cpu_s", "spark.shuffle_write_mb": "shuffle_write_mb",
    "spark.shuffle_read_mb": "shuffle_read_mb", "spark.spill_mb": "spill_mb",
    "catalog.input_mb": "input_mb", "catalog.input_rows": "input_rows",
}


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_AGE0 = process_age_s()


def since_start() -> float:
    return _AGE0 + (time.perf_counter() - _T0)


def become_subreaper() -> None:
    """Adopt orphaned descendants: a process whose parent ends (Spark's
    Python workers once the JVM is gone) becomes a child of this process
    rather than of init, so that it can still be found and waited for."""
    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_descendants(grace_s: float) -> None:
    """Wait up to ``grace_s`` seconds for every descendant of this process
    to exit, kill those still running, and return once each has ended and
    been reaped."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline + KILL_WAIT_S:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = process_tree(me) - {me}
        if not left:
            return
        if time.monotonic() >= deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
    raise RuntimeError(f"processes {sorted(left)} still running after SIGKILL")


def abort(code: int) -> None:
    """Exit at once with ``code``, after killing every descendant."""
    try:
        end_descendants(0.0)
    finally:
        os._exit(code)


def stop_processes(spark) -> None:
    """Stop the session if it started, then the JVM if it was launched, and
    wait until every process the run started has ended."""
    try:
        if spark is not None:
            spark.stop()
    finally:
        pyspark = sys.modules.get("pyspark")
        gateway = pyspark.SparkContext._gateway if pyspark else None
        if gateway is not None:
            # the JVM exits when its standard input closes
            gateway.proc.stdin.close()
        end_descendants(JVM_EXIT_S)


def fit_host() -> tuple[int, int]:
    """Task threads and driver heap for this host: one thread per core the
    process may use, and an eighth of physical memory (1-3 GiB) as heap,
    since the benchmark's inputs are small and the host is shared."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(x.split()[1]) for x in f if x.startswith("MemTotal:"))
    heap_mb = min(max(total_kb // 1024 // 8, 1024), 3072)
    return cores, heap_mb


class StreamEvents:
    """Streaming query listener state: run ids started and progress seen."""

    def __init__(self):
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: list[tuple[str, dict]] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, e):
                events.started.append(str(e.runId))

            def onQueryProgress(self, e):
                events.progress.append((str(e.progress.runId), dict(e.progress.durationMs)))

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                events.terminated.add(str(e.runId))

        return _Listener()

    def runs_since(self, n_started: int, timeout: float = 5.0) -> list[str]:
        """Run ids started after the ``n_started``-th, once all terminated."""
        deadline = time.monotonic() + timeout
        runs = self.started[n_started:]
        while time.monotonic() < deadline and not set(runs) <= self.terminated:
            time.sleep(0.02)
            runs = self.started[n_started:]
        return runs


class Run:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.records: list[dict] = []
        self.errors: list[str] = []
        self.info: dict = {}

    # ---- set-up -----------------------------------------------------------

    def setup(self, heap_mb: int) -> None:
        data = os.path.join(self.work, "data")
        t = time.perf_counter()
        datagen.write_tables(data)
        self.info["datagen_s"] = time.perf_counter() - t
        t = time.perf_counter()
        from tibame_project_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                # a fixed heap, touched at start: peak RSS then does not
                # depend on when the collector chose to grow the heap or
                # which of its pages it has used. C1 only: the optimizing
                # compiler keeps recompiling Spark's driver code for
                # minutes, so with it a run measures how much CPU the
                # compiler threads got; C1 is done within the warm-up.
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m -XX:+AlwaysPreTouch"
                    " -XX:TieredStopAtLevel=1"
                ),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # keep every job of the run countable in the status store
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.boot_s = time.perf_counter() - t
        t = time.perf_counter()
        self.spark.range(1).count()
        self.first_job_s = time.perf_counter() - t
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.tracer = Tracer(self.spark)
        self.streams = None
        if self.args.trace:
            self.streams = StreamEvents()
            self.spark.streams.addListener(self.streams.listener())

        name = self.args.workload
        t = time.perf_counter()
        if name == "table_commits":
            self.wl = workloads.TableCommits(self.spark, data, self.work, self.args.seed)
            self.wl.create()
        else:
            self.wl = workloads.ReadWorkload(
                self.spark, data, workloads.READ_WORKLOADS[name], self.args.seed
            )
        self.info["prepare_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.errors += self.wl.warm_up()
        self.info["warm_up_s"] = time.perf_counter() - t
        self.setup_s = since_start()

    # ---- one operation ----------------------------------------------------

    def run_op(self, i: int, op, traced: bool) -> dict:
        sc = self.spark.sparkContext
        if op.prepare:
            op.prepare()
        is_commit = op.slot in workloads.COMMIT_SLOTS
        before = self._table_state() if traced and is_commit else None
        group = f"perfbench-{i}"
        if traced:
            self.tracer.begin(group)
            gc0 = self.tracer.gc_ms()
            n_started = len(self.streams.started)
        cancel = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        cancel.daemon = True
        err = None
        cancel.start()
        me = os.getpid()
        cpu0, jit0 = tree_cpu_s(me), jit_cpu_s(self.jvm_pid)
        e0, t0 = time.time(), time.perf_counter()
        try:
            build_end = op.timed()
        except Exception as exc:  # an operation that raises is a failure, not a crash
            build_end = None
            err = f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"
        lat = time.perf_counter() - t0
        e1 = time.time()
        # CPU of the whole process tree, less what the JIT compiler spent:
        # compilation is a start-up cost, and how much of it is left for
        # the timed loop depends on how many passes the loop ran
        jit_s = cpu_delta(jit0, jit_cpu_s(self.jvm_pid))
        cpu_s = cpu_delta(cpu0, tree_cpu_s(me)) - jit_s
        cancel.cancel()
        rec = {"i": i, "slot": op.slot, "kind": op.kind, "latency_s": lat, "cpu_s": cpu_s,
               "jit_cpu_s": jit_s, "start": e0, "end": e1, "traced": traced,
               "batch_rows": op.batch_rows, **op.info}
        if traced:
            self.tracer.end()
            self._trace_op(rec, group, n_started, gc0, e0, e1, build_end, before)
        if err is None and op.check:
            err = op.check()
        rec["error"] = err
        return rec

    def _trace_op(self, rec, group, n_started, gc0, e0, e1, build_end, before) -> None:
        runs = self.streams.runs_since(n_started) if rec["slot"].startswith("append") else []
        jobs = self.tracer.job_ids(group, *runs)
        t = self.tracer.collect(jobs, e0, e1, build_end)
        t.gc_s = (self.tracer.gc_ms() - gc0) / 1000.0
        rec["trace"] = dataclasses.asdict(t)
        if runs:
            dur = [d for r, d in self.streams.progress if r in runs]
            rec["stream"] = {
                "add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1000.0,
                "trigger_s": sum(d.get("triggerExecution", 0) for d in dur) / 1000.0,
            }
        if before is not None:
            after = self._table_state()
            added = set(after["files"]) - set(before["files"])
            removed = set(before["files"]) - set(after["files"])
            new_bytes = sum(
                size for path, size in after["disk"].items() if path not in before["disk"]
            )
            row_bytes = after["live_bytes"] / max(after["live_rows"], 1)
            rec["manifest"] = {
                "files_added": len(added),
                "files_removed": len(removed),
                "bytes_written": new_bytes,
                "data_bytes_added": sum(after["files"][p] for p in added),
                "batch_bytes": rec["batch_rows"] * row_bytes,
                "compact_s": self._compact_s(before["version"]),
            }
        if rec["slot"] == "read":
            from tibame_project_spark.sources.manifest import (
                data_skipping_expr,
                manifest_file_paths,
            )

            base = self.wl.base
            prune = data_skipping_expr(self.spark, base, rec["where"])
            opened = len(manifest_file_paths(self.spark, base, prune=prune))
            live = len(manifest_file_paths(self.spark, base))
            rec["manifest"] = {"scan_frac": opened / max(live, 1), "live_files": live}

    def _table_state(self) -> dict:
        from tibame_project_spark.sources.manifest import (
            manifest_stats,
            read_manifest_version,
        )

        base = self.wl.base
        man = manifest_stats(self.spark, base).select("path", "bytes", "rows").collect()
        return {
            "version": read_manifest_version(self.spark, base),
            "files": {r["path"]: int(r["bytes"] or 0) for r in man},
            "live_bytes": sum(int(r["bytes"] or 0) for r in man),
            "live_rows": sum(int(r["rows"] or 0) for r in man),
            "disk": file_sizes(base),
        }

    def _compact_s(self, base_version: int) -> float:
        """Compaction time inside the commits after ``base_version``: from
        the commit before each ``compact`` commit to the compact commit."""
        from tibame_project_spark.sources.manifest import manifest_history

        hist = sorted(
            (r["version"], r["op"], r["ts"])
            for r in manifest_history(self.spark, self.wl.base).collect()
        )
        total = 0.0
        for (v0, _, ts0), (v1, op1, ts1) in zip(hist, hist[1:]):
            if v1 > base_version and op1 == "compact" and ts0 and ts1:
                total += (ts1 - ts0) / 1000.0
        return total

    # ---- the timed loop ---------------------------------------------------

    def loop(self) -> None:
        per_pass_ops = sum(self.wl.weights.values())
        steal0, total0 = cpu_ticks()
        cpu0 = proc_cpu_s(self.jvm_pid)
        management = self.spark.sparkContext._jvm.java.lang.management
        jit = management.ManagementFactory.getCompilationMXBean()
        jit0 = jit.getTotalCompilationTime()
        jobs0 = self._job_count()
        deadline = time.perf_counter() + self.args.seconds
        seen: dict[str, int] = {}
        # an op mutates the reference replay when it is made, so make one
        # only once it is sure to run
        ops, i = self.wl.ops(), 0
        # whole passes only, so that every run holds each kind of operation
        # in the same proportion, and at least MIN_PASSES of them
        while (time.perf_counter() < deadline or i % per_pass_ops
               or i < MIN_PASSES * per_pass_ops):
            if since_start() > RUN_TIMEOUT_S - 30:
                self.errors.append("run stopped early: out of time")
                break
            op = next(ops)
            # tracing on: the 1st, 3rd, ... op of each slot is traced and the
            # others are not, so that both sides see every slot early
            traced = bool(self.args.trace) and seen.get(op.slot, 0) % 2 == 0
            rec = self.run_op(i, op, traced)
            self.records.append(rec)
            seen[op.slot] = seen.get(op.slot, 0) + 1
            i += 1
        self.passes = len(self.records) / per_pass_ops
        steal1, total1 = cpu_ticks()
        self.steal_frac = (steal1 - steal0) / max(total1 - total0, 1)
        self.jvm_cpu_s = proc_cpu_s(self.jvm_pid) - cpu0
        self.jit_s = (jit.getTotalCompilationTime() - jit0) / 1000.0
        self.jobs = self._job_count() - jobs0
        if self.args.workload == "table_commits":
            err = self.wl.check_table()
            if err:
                self.errors.append(err)
        else:
            # a query's output is checked once more after the loop; a
            # mismatch fails the query's last timed run
            for slot, err in self.wl.recheck().items():
                last = next((r for r in reversed(self.records) if r["slot"] == slot), None)
                if last is None:
                    self.errors.append(f"{slot} re-checked after the loop: {err}")
                else:
                    last["error"] = last["error"] or f"re-checked after the loop: {err}"
        self.info.update(self.wl.finish())
        self.rss = tree_peak_rss_mb(os.getpid())

    def _job_count(self) -> int:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        return store.jobsList(None).size()

    # ---- metrics ------------------------------------------------------------

    def ok_records(self, traced: bool | None = None) -> list[dict]:
        return [
            r for r in self.records
            if r["error"] is None and (traced is None or r["traced"] == traced)
        ]

    def timing_records(self) -> list[dict]:
        """The operations the end-to-end figures come from: with tracing on,
        the untraced ones, unless they miss a slot (a short traced run)."""
        untraced = self.ok_records(False)
        if {r["slot"] for r in untraced} == set(self.wl.weights):
            return untraced
        return self.ok_records()

    def by_slot(self, recs, key=lambda r: r["latency_s"]) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {s: [] for s in self.wl.weights}
        for r in recs:
            out[r["slot"]].append(key(r))
        return out

    def end_to_end(self, recs) -> dict[str, float]:
        """The registered metrics and, in the report's order, their
        wall-clock twins."""
        out = {"setup_s": self.setup_s}
        for prefix, key in (("", "latency_s"), ("_cpu", "cpu_s")):
            slots = {k: v for k, v in self.by_slot(recs, lambda r: r[key]).items() if v}
            # on a read workload every query is a read; a median across
            # queries of different cost would flip between them, so take
            # the median of the per-query medians
            reads = [slots["read"]] if "read" in self.wl.weights else slots.values()
            out[f"pass{prefix}_s"] = per_pass(slots, self.wl.weights)
            out[f"read{prefix}_p50_s"] = statistics.median(statistics.median(v) for v in reads)
        out["peak_rss_mb"] = sum(self.rss.values())
        return out

    def per_layer(self) -> dict[str, float]:
        traced = [r for r in self.ok_records(True) if "trace" in r]
        weights = self.wl.weights
        out = {"session.boot_s": self.boot_s, "session.first_job_s": self.first_job_s}
        for metric, fld in _PASS_FIELDS.items():
            out[metric] = per_pass(self.by_slot(traced, lambda r: r["trace"][fld]), weights)
        out["spark.cpu_frac"] = out["spark.exec_cpu_s"] / max(out["spark.exec_run_s"], 1e-9)
        traced_passes = max(len(traced) / sum(weights.values()), 1e-9)
        out["spark.gc_s"] = sum(r["trace"]["gc_s"] for r in traced) / traced_passes
        commits = [r for r in traced if "manifest" in r and r["slot"] != "read"]
        reads = [r for r in traced if r["slot"] == "read" and "manifest" in r]
        appends = [r for r in traced if "stream" in r]

        def total(recs, fld):
            return sum(r["manifest"][fld] for r in recs)

        mb = 1024.0 * 1024.0
        out.update({
            "manifest.jobs_per_commit": (
                sum(r["trace"]["jobs"] for r in commits) / len(commits) if commits else 0.0
            ),
            "manifest.files_added": total(commits, "files_added") / traced_passes,
            "manifest.files_removed": total(commits, "files_removed") / traced_passes,
            "manifest.bytes_written_mb": total(commits, "bytes_written") / mb / traced_passes,
            "manifest.write_amp": (
                total(commits, "data_bytes_added") / max(total(commits, "batch_bytes"), 1.0)
                if commits else 0.0
            ),
            "manifest.live_files": float(self.info.get("live_files", 0)),
            "manifest.scan_frac": (
                statistics.median(r["manifest"]["scan_frac"] for r in reads) if reads else 0.0
            ),
            "manifest.compact_s": total(commits, "compact_s") / traced_passes,
            "streaming.add_batch_s": (
                sum(r["stream"]["add_batch_s"] for r in appends) / traced_passes
            ),
            "streaming.trigger_s": sum(r["stream"]["trigger_s"] for r in appends) / traced_passes,
        })
        out["host.steal_frac"] = self.steal_frac
        out["trace.overhead_ratio"] = self.overhead()[0]
        return out

    def overhead(self) -> tuple[float, float, float]:
        """Traced vs untraced time per pass, over the slots both sides ran:
        ``(ratio, traced_s, untraced_s)``."""
        tr = self.by_slot(self.ok_records(True))
        un = self.by_slot(self.ok_records(False))
        common = {k: w for k, w in self.wl.weights.items() if tr[k] and un[k]}
        if not common:
            return 1.0, 0.0, 0.0
        t = per_pass({k: tr[k] for k in common}, common)
        u = per_pass({k: un[k] for k in common}, common)
        return t / u, t, u

    def detail(self) -> dict:
        """Numbers for the report beside the registered metrics."""
        recs = self.timing_records()
        out: dict = {}
        value, pct = tail([r["latency_s"] for r in recs])
        out.update(op_tail_s=round(value, 4), op_tail_pct=round(pct, 1), samples=len(recs))
        out["passes"] = round(self.passes, 2)
        kinds = {
            "merge": ("rewrite",),
            "append": ("append", "append_compact"),
            "read": ("read",),
        }
        if self.args.workload == "table_commits":
            for name, slots in kinds.items():
                xs = [r["latency_s"] for r in recs if r["slot"] in slots]
                if xs:
                    out[f"{name}_p50_s"] = round(statistics.median(xs), 4)
                    value, pct = tail(xs)
                    out[f"{name}_tail_s"] = round(value, 4)
                    out[f"{name}_tail_pct"] = round(pct, 1)
                    out[f"{name}_n"] = len(xs)
            out["space_amp"] = round(self.info["space_amp"], 4)
        by_kind: dict[str, list[float]] = {}
        for r in recs:
            by_kind.setdefault(r["kind"], []).append(r["latency_s"])
        out["kind_p50_s"] = {k: round(statistics.median(v), 4) for k, v in by_kind.items()}
        out["jvm_cpu_s_per_pass"] = round(self.jvm_cpu_s / max(self.passes, 1e-9), 3)
        out["jit_s_per_pass"] = round(self.jit_s / max(self.passes, 1e-9), 3)
        out["jobs_per_pass"] = round(self.jobs / max(self.passes, 1e-9), 2)
        out["steal_frac"] = round(self.steal_frac, 4)
        out["peak_rss_mb_by_process"] = {k: round(v, 1) for k, v in self.rss.items()}
        out["setup_parts_s"] = {
            "boot": round(self.boot_s, 3), "first_job": round(self.first_job_s, 3),
            **{k[:-2]: round(self.info[k], 3) for k in ("datagen_s", "prepare_s", "warm_up_s")},
        }
        return out


def suspect(history: list[dict], now: dict) -> str | None:
    """Flag a run whose time per pass rose over the median of earlier runs
    while its CPU per pass and jobs per pass did not; None when unflagged."""
    if not history:
        return None
    med = {k: statistics.median(h[k] for h in history)
           for k in ("pass_s", "jvm_cpu_s_per_pass", "jobs_per_pass")}
    rose = now["pass_s"] > med["pass_s"] * (1 + SUSPECT_RISE)
    cpu_flat = now["jvm_cpu_s_per_pass"] <= med["jvm_cpu_s_per_pass"] * (1 + SUSPECT_RISE / 2)
    jobs_flat = now["jobs_per_pass"] <= med["jobs_per_pass"]
    if rose and cpu_flat and jobs_flat:
        return (
            f"pass_s {now['pass_s']:.3f} vs median {med['pass_s']:.3f} of "
            f"{len(history)} earlier runs, with CPU and jobs per pass flat"
        )
    return None


def _check_package() -> None:
    """Refuse to measure an engine other than the one beside this directory."""
    import tibame_project_spark

    where = os.path.dirname(os.path.dirname(os.path.abspath(tibame_project_spark.__file__)))
    if where != ROOT:
        raise SystemExit(f"engine imported from {where}, not from {ROOT}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    _check_package()
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: abort(143))
    watchdog = threading.Timer(RUN_TIMEOUT_S, lambda: abort(3))
    watchdog.daemon = True
    watchdog.start()

    cores, heap_mb = fit_host()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    results = os.path.join(HERE, ".results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # no hsperfdata files under /tmp, from the launcher JVM or the driver
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    run = Run(args, work)
    try:
        run.setup(heap_mb)
        run.loop()
        e2e = run.end_to_end(run.timing_records())
        layers = run.per_layer() if args.trace else {}
        detail = run.detail()
        import pyspark

        env = {
            "cores": cores, "driver_heap": f"{heap_mb}m",
            "spark": pyspark.__version__, "python": platform.python_version(),
        }
    finally:
        stop_processes(getattr(run, "spark", None))
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(r["error"] is not None for r in run.records)
    failed_slots = sorted({r["kind"] for r in run.records if r["error"]})
    attempted = len(run.records)
    correct = failed == 0 and not run.errors

    history_path = os.path.join(results, f"history-{args.workload}.jsonl")
    history = []
    if os.path.exists(history_path):
        with open(history_path) as f:
            history = [json.loads(line) for line in f if line.strip()]
    now = {"pass_s": e2e["pass_s"], "seed": args.seed, "trace": args.trace,
           "jvm_cpu_s_per_pass": detail["jvm_cpu_s_per_pass"],
           "jobs_per_pass": detail["jobs_per_pass"]}
    flag = suspect([h for h in history if h["trace"] == args.trace], now)
    with open(history_path, "a") as f:
        f.write(json.dumps(now) + "\n")
    with open(os.path.join(results, f"trace-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"env": env, "end_to_end": e2e, "per_layer": layers, "detail": detail,
                   "errors": run.errors, "suspect": flag, "ops": run.records}, f, default=str)

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} " + " ".join(f"{k}={v}" for k, v in env.items()))
    print("  end-to-end: " + " ".join(
        f"{k}={v:.4f}{END_TO_END.get(k) or WALL[k]}" for k, v in e2e.items()))
    print(f"  fail_frac={failed}/{attempted}" + (f" failing={failed_slots}" if failed_slots else ""))
    print("  detail: " + json.dumps(detail))
    if args.trace:
        print("  per-layer: " + " ".join(f"{k}={v:.4g}" for k, v in layers.items()))
        ratio, t, u = run.overhead()
        print(f"  tracing overhead: traced pass_s={t:.4f} untraced pass_s={u:.4f} "
              f"over the slots both ran (ratio {ratio:.4f})")
    print(f"  suspect: {flag or 'no'} (steal_frac={run.steal_frac:.4f})")
    for e in run.errors:
        print(f"  error: {e}")
    for r in run.records:
        if r["error"]:
            print(f"  failed op {r['i']} {r['kind']}: {r['error']}")

    metrics = layers if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    watchdog.cancel()
    return 0


if __name__ == "__main__":
    sys.exit(main())
