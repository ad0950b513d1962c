"""Profile one bench query end-to-end with per-stage task/CPU/shuffle stats,
and the Janino compiles of its generated code.

Usage: python tools/profile_query.py <bench-query-name>
Reads the tables under $SPARK_GRAFT_SF_DIR (default sf0.1).

The compile count and milliseconds come from Spark's ``CodegenMetrics``
(driver and local-mode executors share the JVM). The query runs cold, so
the count is the number of distinct generated classes it needs; past the
codegen cache size set in ``kafi_spark/session.py`` every warm run would
recompile them. The milliseconds sum the compile-time histogram's
samples: exact while the session has compiled no more classes than the
histogram's reservoir holds (1028).
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

compile_ms = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
    .METRIC_COMPILATION_TIME()


def compiled():
    """(Janino compiles so far, their summed milliseconds)."""
    return compile_ms.getCount(), sum(compile_ms.getSnapshot().getValues())


name = sys.argv[1] if len(sys.argv) > 1 else "pipeline_dupheavy_exact"
n0, ms0 = compiled()
t0 = time.time()
df = qs[name](spark, sf_dir)
df.write.format("noop").mode("overwrite").save()
n1, ms1 = compiled()
print(f"{name} wall={time.time()-t0:.2f}s "
      f"janino_compiles={n1 - n0} janino_ms={ms1 - ms0}")

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
