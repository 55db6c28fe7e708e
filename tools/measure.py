"""Per-round plan and job-census harness (measure first).

For each headline bench query: capture `.explain("formatted")` to
plans/<round>/<short>_<label>.txt, then run it to the noop sink under a
dedicated job group and record per-query wall time, Spark job count,
stage count, and task count (the job-floor accounting the optimization
round needs: local-mode job launches cost ~60-90 ms each, so the
job/stage census says how much of a 0.3 s query is scheduling).

Usage: python tools/measure.py <round> [label] [passes]
  e.g. python tools/measure.py r12 before 3
Writes plans to plans/<round>/ and prints one JSON line with the
census.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (reuses HEADLINE + _split_bench_inputs)
from datastream_delta_plugins_spark.session import (  # noqa: E402
    get_spark, sized_shuffle_partitions)


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rnd = sys.argv[1]
    label = sys.argv[2] if len(sys.argv) > 2 else "before"
    passes = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    input_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(sf_dir) for f in fs)
    sp = (int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0"))
          or sized_shuffle_partitions(input_bytes, cpus))
    spark = get_spark(f"measure_{rnd}", shuffle_partitions=sp)
    sc = spark.sparkContext
    bench_dir = bench._split_bench_inputs(spark, sf_dir)

    plans_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(plans_dir, exist_ok=True)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # --- scheduling-floor calibration: a 1-task no-compute job and a
    # 1-exchange shuffle of 32 ints, best of 5 each. The per-job and
    # per-exchange floor lets the census decompose each query into
    # (jobs x floor) + compute.
    import pyspark.sql.functions as F
    floor1 = float("inf")
    floor_sh = float("inf")
    one = spark.range(1)
    sh = spark.range(32).groupBy((F.col("id") % 4).alias("k")).count()
    for _ in range(2):
        noop(one); noop(sh)  # warm
    for _ in range(5):
        t0 = time.perf_counter(); noop(one)
        floor1 = min(floor1, time.perf_counter() - t0)
        t0 = time.perf_counter(); noop(sh)
        floor_sh = min(floor_sh, time.perf_counter() - t0)

    # warm-up pass (classloading/codegen/footer cache)
    for short, name, registry in bench.HEADLINE:
        noop(registry[name](spark, bench_dir))

    tracker = sc.statusTracker()
    census = {}
    for short, name, registry in bench.HEADLINE:
        df = registry[name](spark, bench_dir)
        with open(os.path.join(plans_dir, f"{short}_{label}.txt"), "w") as f:
            f.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")))
        best = float("inf")
        group = f"census_{short}_{label}"
        for p in range(passes):
            df = registry[name](spark, bench_dir)
            sc.setJobGroup(group if p == 0 else f"{group}_x", name)
            t0 = time.perf_counter()
            noop(df)
            best = min(best, time.perf_counter() - t0)
            sc.setJobGroup("idle", "idle")
        jobs = tracker.getJobIdsForGroup(group)
        n_stages = 0
        n_tasks = 0
        for j in jobs:
            ji = tracker.getJobInfo(j)
            if ji is None:
                continue
            for s in ji.stageIds:
                si = tracker.getStageInfo(s)
                if si is not None and si.numTasks > 0 and \
                        si.numCompletedTasks > 0:
                    n_stages += 1
                    n_tasks += si.numCompletedTasks
        census[short] = {"sec": round(best, 4), "jobs": len(jobs),
                         "stages": n_stages, "tasks": n_tasks}
    total = round(sum(v["sec"] for v in census.values()), 4)
    print(json.dumps({"label": label, "total_best": total,
                      "shuffle_partitions": sp, "cpus": cpus,
                      "floor_1task_sec": round(floor1, 4),
                      "floor_1exchange_sec": round(floor_sh, 4),
                      "census": census}))
    spark.stop()


if __name__ == "__main__":
    main()
