#!/usr/bin/env python
"""CPU-time measurement harness for noisy hosts.

Wall-clock A/B on this sandbox is polluted by ambient host load (3-5x
run-to-run swings observed mid-round). Total CPU seconds consumed by
the Spark process SUBTREE (the local[N] JVM plus its pyspark.daemon
workers plus this driver) is far more stable under contention: work
stolen by a noisy neighbour delays the wall clock but does not add CPU
cycles to our processes. This measures, per noop-sink pass, the delta
of utime+stime summed over /proc for this process and every live
descendant — the local-mode executor threads all live in the one JVM,
so the subtree captures the whole computation. The walk is
``perfbench.measure.subtree_cpu_s``, the one perfbench reports ``cpu_s``
with.

Every pass is cold: after it, the cached plans and every persisted RDD
are dropped, so no pass reads a cache left behind by an earlier one.

Usage: python scripts/cpu_measure.py q1 q2 ...   (passes via
SPARK_GRAFT_BENCH_PASSES, default 3; prints JSON with cpu+wall lists).
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from newsify_spark.queries import REGISTRY
from newsify_spark.session import get_spark
from perfbench.measure import subtree_cpu_s

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def drop_caches(spark) -> None:
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: cpu_measure.py query [query ...]")
    if "SPARK_GRAFT_BLOOM_CACHE" not in os.environ:
        import tempfile

        os.environ["SPARK_GRAFT_BLOOM_CACHE"] = tempfile.mkdtemp(
            prefix="newsify_measure_bloom_"
        )
    spark = get_spark("newsify_cpu_measure")
    force(spark.range(1_000_000).selectExpr("sum(id) AS s"))  # warmup

    out: dict[str, dict] = {}
    for name in names:
        q = REGISTRY[name]
        cpu, wall, jobs, stages, tasks = [], [], [], [], []
        for p in range(PASSES):
            group = f"cpu_{name}_p{p + 1}"
            spark.sparkContext.setJobGroup(group, f"cpu {name} pass{p + 1}")
            c0, t0 = subtree_cpu_s(), time.perf_counter()
            force(q.fn(spark, SF_DIR))
            wall.append(round(time.perf_counter() - t0, 3))
            cpu.append(round(subtree_cpu_s() - c0, 3))
            drop_caches(spark)
            # deterministic structural counters — immune to host noise:
            # number of jobs/stages/tasks this pass actually ran
            st = spark.sparkContext.statusTracker()
            jids = st.getJobIdsForGroup(group)
            sids = set()
            for j in jids:
                ji = st.getJobInfo(j)
                if ji:
                    sids.update(ji.stageIds)
            ntasks = 0
            nstages = 0
            for s in sids:
                si = st.getStageInfo(s)
                if si and si.numTasks > 0:
                    nstages += 1
                    ntasks += si.numTasks
            jobs.append(len(jids))
            stages.append(nstages)
            tasks.append(ntasks)
            spark.sparkContext.setJobGroup(None, None)
        out[name] = {
            "cpu_min": min(cpu),
            "cpu": cpu,
            "wall_min": min(wall),
            "wall": wall,
            "jobs": jobs,
            "stages": stages,
            "tasks": tasks,
        }
        print(f"# {name}: cpu={cpu} wall={wall} jobs={jobs} tasks={tasks}", file=sys.stderr)
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
