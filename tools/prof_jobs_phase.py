"""Attribute Spark job launches to manifest-module phases.

Usage (from the repo root): ``python tools/prof_jobs_phase.py <query>``,
e.g. ``evolution_cycle``; ``SPARK_GRAFT_SF_DIR`` picks the data (default
sf0.1). Each listed phase is charged its SELF jobs and time — what ran
inside it but outside any nested listed phase — so the keyed front end
(``_prepare_keyed_edit``) shows apart from the rest of a merge's or a
delete's prepare. Listed names the module lacks are printed, not
wrapped."""
import collections
import functools
import os
import sys
import time

sys.path.insert(0, os.getcwd())  # run from the repo root


import __spark_entry__ as entry
from tibame_project_spark.session import get_spark
from tibame_project_spark.sources import manifest as M
from tibame_project_spark.operators import corrections as C

QUERY = sys.argv[1]
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("jp"); spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext
tracker = sc.statusTracker()
def njobs():
    ids = tracker.getJobIdsForGroup(None)
    return (max(ids) + 1) if ids else 0

jacc = collections.Counter(); tacc = collections.Counter(); cnt = collections.Counter()
stack = []  # per open phase: [jobs, seconds] spent in nested phases

def wrap(mod, name):
    fn = getattr(mod, name)
    @functools.wraps(fn)
    def w(*a, **k):
        j0, t0 = njobs(), time.perf_counter()
        stack.append([0, 0.0])
        try:
            return fn(*a, **k)
        finally:
            inner_j, inner_t = stack.pop()
            dj, dt = njobs() - j0, time.perf_counter() - t0
            jacc[name] += dj - inner_j
            tacc[name] += dt - inner_t
            cnt[name] += 1
            if stack:
                stack[-1][0] += dj
                stack[-1][1] += dt
    setattr(mod, name, w)

for n in ["_begin", "_meta", "_load_manifest", "_materialize_manifest",
          "_file_stats", "_write_data", "_read_live", "_expect_gate",
          "vacuum_manifest_table", "restore_manifest_table",
          "clone_manifest_table", "data_skipping_expr", "bloom_prune_expr",
          "version_as_of", "_manifest_tags", "read_manifest_table",
          "_prepare_keyed_edit", "_prepare_merge_edit",
          "_prepare_delete_edit", "append_manifest_table",
          "write_manifest_table", "update_manifest_table",
          "evolve_manifest_table", "compact_manifest_table",
          "stage_merge_manifest_table", "stage_delete_manifest_table",
          "publish_staged_manifest", "read_staged_manifest",
          "delete_manifest_table", "manifest_table_stats", "expire_txns",
          "manifest_changes"]:
    if hasattr(M, n):
        wrap(M, n)
    else:
        print(f"(not in the module, not profiled: {n})")

spark.read.parquet(os.path.join(SF, "region.parquet")).count()
fn = entry.queries()[QUERY]
fn(spark, SF).write.format("noop").mode("overwrite").save()
spark.catalog.clearCache()
jacc.clear(); tacc.clear(); cnt.clear()
j0, t0 = njobs(), time.perf_counter()
fn(spark, SF).write.format("noop").mode("overwrite").save()
total_t, total_j = time.perf_counter() - t0, njobs() - j0
print(f"=== {QUERY}: {total_j} jobs, {total_t:.2f}s ===")
for k, j in jacc.most_common():
    print(f"  {k:28s} jobs={j:3d} t={tacc[k]:6.2f} x{cnt[k]}")
print(f"  (self jobs {sum(jacc.values())}, t {sum(tacc.values()):.2f})")
spark.stop()
