"""Min-of-N timing for a subset of registered queries.

Usage: python scratch/time_subset.py name1,name2,... [n_runs] [label]
Noop sink, clearCache between runs, a warmup query, and the
SPARK_GRAFT_INDEX_SPILL_DIR seam (docs/benching.md). Prints one line per query
and a JSON map at the end.
"""
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

names = sys.argv[1].split(",")
n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
label = sys.argv[3] if len(sys.argv) > 3 else "subset"

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
    app_name=f"time-{label}",
    extra_conf={"spark.ui.showConsoleProgress": "false"},
)
apply_runtime_conf(spark)
spark.sparkContext.setLogLevel("ERROR")
specs = registry.all_queries()


def run_once(name):
    t0 = time.perf_counter()
    df = specs[name].builder(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    el = time.perf_counter() - t0
    spark.catalog.clearCache()
    return el


try:
    run_once("q1_pricing_summary")
except Exception:
    pass

out = {}
for name in names:
    best = None
    for _ in range(n_runs):
        t = run_once(name)
        best = t if best is None else min(best, t)
    out[name] = round(best, 3)
    print(f"{name:40s} {best:7.3f}", flush=True)
print(json.dumps({"label": label, "total": round(sum(out.values()), 2), "queries": out}))
