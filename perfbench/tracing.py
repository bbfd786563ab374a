"""Layer attribution for one benchmark operation, and the arithmetic the
metrics share.

Tracing is per operation: the call runs under its own Spark job group, and
after the call returns (outside the timed span) Spark's status store is
read for that group's jobs and stages. Nothing here patches the engine.
"""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# pure arithmetic
# --------------------------------------------------------------------------


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile that still has ``beyond`` samples above it.

    Returns ``(value, percentile)``. With ``n`` samples that is the sample
    of rank ``n - beyond`` (1-based, ascending), i.e. percentile
    ``100 * (n - beyond) / n``. With too few samples for that, the
    maximum is returned as percentile 100.
    """
    if not values:
        raise ValueError("tail of no samples")
    xs = sorted(values)
    rank = len(xs) - beyond
    if rank < 1:
        return xs[-1], 100.0
    return xs[rank - 1], 100.0 * rank / len(xs)


def span_union(spans: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` spans."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - span_union([(s, e) for s, e in clipped if e > s])


def per_pass(samples: dict[str, list[float]], weights: dict[str, int]) -> float:
    """Sum over slots of each slot's median, times the slot's count per pass."""
    return sum(weights[k] * statistics.median(v) for k, v in samples.items() if v)


# --------------------------------------------------------------------------
# host
# --------------------------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted inside user/nice
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds one process has used."""
    with open(f"/proc/{pid}/stat") as f:
        rest = f.read().rsplit(")", 1)[1].split()
    return (int(rest[11]) + int(rest[12])) / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm_pid: int) -> dict[int, float]:
    """User + system CPU seconds of each JIT compiler thread of a JVM, by
    thread id. HotSpot starts and ends these threads as the compile queue
    grows and shrinks, so compare two readings thread by thread."""
    out = {}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        # "C1 CompilerThread<n>", "C2 CompilerThread<n>", cut to 15 letters
        if "CompilerThre" in head:
            fields = rest.split()
            out[int(tid)] = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return out


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds used between two per-pid (or per-thread) readings, by
    the processes alive at the second; one that ended in between is left out."""
    return sum(c - before.get(k, 0.0) for k, c in after.items())


def tree_cpu_s(root: int) -> dict[int, float]:
    """User + system CPU seconds of ``root`` and of each of its
    descendants, by pid."""
    out = {}
    for pid in process_tree(root):
        try:
            out[pid] = proc_cpu_s(pid)
        except OSError:
            continue
    return out


def file_sizes(root: str) -> dict[str, int]:
    """Size of every file under ``root``, by path."""
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files
    }


def process_tree(root: int) -> set[int]:
    """``root`` and the pids of all its descendants."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def tree_peak_rss_mb(root: int) -> dict[str, float]:
    """Peak RSS (VmHWM) in MB of ``root`` and each of its descendants, by
    ``"<pid>:<name>"``."""
    out = {}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            name = status["Name"].strip()
            out[f"{pid}:{name}"] = int(status["VmHWM"].split()[0]) / 1024
    return out


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------


@dataclass
class OpTrace:
    """What one operation cost, layer by layer. Times in seconds."""

    wall_s: float = 0.0
    build_s: float = 0.0
    eager_jobs: int = 0
    self_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_rows: int = 0
    gc_s: float = 0.0
    job_spans: list = field(default_factory=list)


class Tracer:
    """Reads the Spark status store for job groups. One per session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def gc_ms(self) -> int:
        """Collection time of the driver JVM, which in local mode also runs
        every executor task."""
        return sum(max(b.getCollectionTime(), 0) for b in self._gc_beans)

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, *groups: str) -> list[int]:
        ids: set[int] = set()
        for g in groups:
            ids.update(self.sc.statusTracker().getJobIdsForGroup(g))
        return sorted(ids)

    def collect(self, job_ids: list[int], start: float, end: float,
                build_end: float | None = None) -> OpTrace:
        """Fold the jobs of one operation into an :class:`OpTrace`.

        ``start``/``end``/``build_end`` are epoch seconds taken around the
        call; job spans come from the status store in epoch milliseconds.
        """
        t = OpTrace(wall_s=end - start)
        t.build_s = (build_end - start) if build_end is not None else 0.0
        first_job = end
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = self._store.job(jid)
            sub = job.submissionTime()
            if sub.isEmpty():
                continue
            js = sub.get().getTime() / 1000.0
            done = job.completionTime()
            je = done.get().getTime() / 1000.0 if not done.isEmpty() else end
            t.job_spans.append((js, je))
            t.jobs += 1
            first_job = min(first_job, js)
            if build_end is not None and js < build_end:
                t.eager_jobs += 1
            seq = job.stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        for sid in sorted(stage_ids):
            self._add_stage(t, sid, start)
        if build_end is None:
            # a verb has no separate sink action: its build phase is the
            # driver work before it launches its first Spark job
            t.build_s = max(first_job - start, 0.0)
        t.self_s = self_time(start, end, t.job_spans)
        return t

    def _add_stage(self, t: OpTrace, stage_id: int, start: float) -> None:
        attempts = self._store.stageData(
            stage_id, False, self._no_tasks, False, self._no_quantiles
        )
        for i in range(attempts.size()):
            s = attempts.apply(i)
            sub = s.submissionTime()
            # a job lists the shuffle stages it reuses; they ran (and are
            # counted) in the earlier job that submitted them
            if s.status().toString() == "SKIPPED" or sub.isEmpty():
                continue
            if sub.get().getTime() / 1000.0 < start - 0.01:
                continue
            mb = 1024.0 * 1024.0
            t.stages += 1
            t.tasks += s.numCompleteTasks() + s.numFailedTasks()
            t.exec_run_s += s.executorRunTime() / 1000.0
            t.exec_cpu_s += s.executorCpuTime() / 1e9
            t.shuffle_write_mb += s.shuffleWriteBytes() / mb
            t.shuffle_read_mb += s.shuffleReadBytes() / mb
            t.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / mb
            t.input_mb += s.inputBytes() / mb
            t.input_rows += s.inputRecords()
