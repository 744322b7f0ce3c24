"""Per-entry cost decomposition for optimization rounds.

For each named registry entry (or the N slowest from BENCH_detail.json),
measures on a warm session:
  build_s   — DataFrame construction time (py4j + analysis)
  exec_s    — action time (collect, matching bench methodology)
  noop_s    — noop-sink write time (guide §1.4; computation without
              result serialization to the driver)
  build_jobs — Spark jobs launched while the DataFrame is built (a
               parquet source read without a known schema infers it in one)
  exec_jobs — Spark jobs launched by the timed action
  stages    — total stages across the action's jobs
  tasks     — total tasks across those stages

Usage: python tools/profile_entry.py [sf_dir] name [name ...]
       python tools/profile_entry.py [sf_dir] --top N
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    names: list[str] = []
    if args and args[0] == "--top":
        n = int(args[1])
        with open(os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "BENCH_detail.json")) as f:
            detail = json.load(f)
        best = detail.get("best") or detail["queries"]
        names = [k for k, _ in sorted(best.items(), key=lambda kv: -kv[1])][:n]
    else:
        names = args

    import __spark_entry__ as entry

    from nsdb_spark.session import tuned_builder

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # measurement parity with bench.py: shared tuned defaults
    # (nsdb_spark/session.py — code cache + 8 KB codegen fallback)
    spark = (
        tuned_builder(f"local[{cpus}]", "profile-entry")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "32g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    sc = spark.sparkContext

    rows = []
    for name in names:
        fn = qs[name]
        # warm (JIT/codegen) exactly like bench.py
        try:
            fn(spark, sf_dir).collect()
        except Exception as e:
            print(f"# {name} warmup failed: {e}", file=sys.stderr)
            continue
        spark.catalog.clearCache()

        # timed, with job accounting via one job group per phase
        sc.setJobGroup(f"prof_build_{name}", name)
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        sc.setJobGroup(f"prof_{name}", name)
        df.collect()
        t2 = time.time()
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        build_jobs = tracker.getJobIdsForGroup(f"prof_build_{name}")
        job_ids = tracker.getJobIdsForGroup(f"prof_{name}")
        stages = 0
        tasks = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                sinfo = tracker.getStageInfo(sid)
                if sinfo is not None and sinfo.numCompletedTasks > 0:
                    stages += 1
                    tasks += sinfo.numTasks
        spark.catalog.clearCache()
        sc.setJobGroup("prof_noop", name)
        t3 = time.time()
        df2 = fn(spark, sf_dir)
        df2.write.format("noop").mode("overwrite").save()
        t4 = time.time()
        spark.catalog.clearCache()
        rows.append(
            {
                "name": name,
                "build_s": round(t1 - t0, 3),
                "exec_s": round(t2 - t1, 3),
                "total_s": round(t2 - t0, 3),
                "noop_total_s": round(t4 - t3, 3),
                "build_jobs": len(build_jobs),
                "exec_jobs": len(job_ids),
                "stages": stages,
                "tasks": tasks,
            }
        )
        print(json.dumps(rows[-1]), flush=True)

    print("== summary ==")
    for r in sorted(rows, key=lambda r: -r["total_s"]):
        print(
            f"{r['total_s']:8.3f}s (build {r['build_s']:6.3f} exec "
            f"{r['exec_s']:6.3f} | noop {r['noop_total_s']:6.3f}) "
            f"jobs={r['build_jobs']:2d}+{r['exec_jobs']:3d} stages={r['stages']:3d} "
            f"tasks={r['tasks']:4d}  {r['name']}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
