"""Per-job duration census for one registered query (bench posture).

Usage: python scratch/job_census.py <name> [warm_runs]
Runs the query once (plus optional warm run), then prints every Spark
job with duration, description and stage/task counts from the JVM
status store. The SPARK_GRAFT_INDEX_SPILL_DIR seam is set as perfbench's
query_mix sets it, so the shared-index path matches the bench posture.
"""
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

name = sys.argv[1]
warm = int(sys.argv[2]) if len(sys.argv) > 2 else 0

if "SPARK_GRAFT_INDEX_SPILL_DIR" not in os.environ:
    spill = tempfile.mkdtemp(prefix="spark_graft_idx_")
    os.environ["SPARK_GRAFT_INDEX_SPILL_DIR"] = spill
    import atexit
    import shutil

    atexit.register(shutil.rmtree, spill, ignore_errors=True)

from bc_proj3_spark import registry
from bc_proj3_spark.session import apply_runtime_conf, get_spark

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(
    app_name=f"jobcensus-{name}",
    extra_conf={"spark.ui.showConsoleProgress": "false"},
)
apply_runtime_conf(spark)
spark.sparkContext.setLogLevel("ERROR")
specs = registry.all_queries()

# warmup session
df = specs["q1_pricing_summary"].builder(spark, sf_dir)
df.write.format("noop").mode("overwrite").save()
spark.catalog.clearCache()

for _ in range(warm):
    df = specs[name].builder(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

store = spark.sparkContext._jsc.sc().statusStore()
n_before = store.jobsList(None).size()

t0 = time.perf_counter()
df = specs[name].builder(spark, sf_dir)
t1 = time.perf_counter()
df.write.format("noop").mode("overwrite").save()
t2 = time.perf_counter()

jobs = store.jobsList(None)
rows = []
for i in range(jobs.size()):
    j = jobs.apply(i)
    if j.jobId() < n_before:
        continue
    sub = j.submissionTime()
    comp = j.completionTime()
    dur = None
    if sub.isDefined() and comp.isDefined():
        dur = (comp.get().getTime() - sub.get().getTime()) / 1000.0
    desc = j.description()
    d = desc.get() if desc.isDefined() else j.name()
    rows.append((j.jobId(), dur, j.numTasks(), str(d)[:110]))
rows.sort()
tot = 0.0
for jid, dur, ntasks, d in rows:
    tot += dur or 0.0
    print(f"job {jid:4d}  {dur if dur is not None else -1:7.3f}s  tasks={ntasks:5d}  {d}")
print(f"\n{name}: build={t1-t0:.2f}s exec={t2-t1:.2f}s jobs={len(rows)} sum_job_time={tot:.2f}s")
