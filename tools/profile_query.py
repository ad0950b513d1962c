"""Profile one bench query end-to-end with per-stage task/CPU/shuffle stats.

Usage: python tools/profile_query.py <bench-query-name>
Reads the tables under $SPARK_GRAFT_SF_DIR (default sf0.1).
"""
import os
import sys
import time

# derive the repo from __file__ so a worktree copy profiles ITS OWN
# tree during a same-host A/B, not the main checkout's
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from bench import bench_queries
from kafi_spark.session import get_spark
from tools.plans import rest_get
from tools.scale_probe import SF01

spark = get_spark("profile_query", extra_conf={
    "spark.ui.enabled": "true", "spark.ui.port": "0",
    "spark.ui.retainedStages": "100000"})
qs = bench_queries(entry_mod)
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF01)
qs["scalar_stats"](spark, sf_dir).write.format("noop").mode("overwrite").save()

name = sys.argv[1] if len(sys.argv) > 1 else "pipeline_dupheavy_exact"
t0 = time.time()
df = qs[name](spark, sf_dir)
df.write.format("noop").mode("overwrite").save()
print(f"{name} wall={time.time()-t0:.2f}s")

stages = rest_get(spark, "stages?status=complete")
tot_cpu = 0.0
for st in sorted(stages, key=lambda s: s["stageId"]):
    cpu = st.get("executorCpuTime", 0) / 1e9
    tot_cpu += cpu
    if cpu > 0.2 or st["numCompleteTasks"] > 8:
        print(f"stage {st['stageId']:3d} tasks={st['numCompleteTasks']:4d} "
              f"cpu={cpu:8.2f}s in={st.get('inputBytes',0):>12,} "
              f"sr={st.get('shuffleReadBytes',0):>12,} "
              f"sw={st.get('shuffleWriteBytes',0):>12,}")
print(f"total cpu={tot_cpu:.1f}s")
spark.stop()
