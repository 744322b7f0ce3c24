"""Interleaved A/B for the serving floor (VERDICT r8 item 1).

Measures, in ONE process, the bench's serving scenarios:
  gatling_100_point_queries — 100x collect() of events.limit(1) on the
                              analytics session (bench.py:482 shape)
  grpc_100_point_queries    — 100 identical rpcs (statement cache path)
  grpc_100_distinct_queries — 100 unique-LIMIT rpcs (per-statement path:
                              each LIMIT is its own statement)
  grpc_100_distinct_shapes  — 100 unique-filter rpcs (full plan path)
  grpc_100_distinct_aggs    — 100 unique-bound aggregate rpcs, tag
                              group-by and temporal alternating (the
                              shard-pruned aggregate route)

Each scenario reports its seconds and, beside them as `<name>_jobs`, the
Spark jobs it started (the status tracker's job-id delta): a scenario the
engine answers from its caches or from the shard files shows 0.

Variant knobs (env):
  SPARK_GRAFT_CPUS     — core count (default: the CPUs this process may
                         run on)
  SERVING_MODE         — interp (current code), interp-nocap (reset the
                         r9 partition caps to the r8 defaults), codegen
                         (disable the shard-file and serving routes for
                         point AND aggregate reads: plans stay on the
                         codegen session)

`SERVING_MODE=codegen` against `SERVING_MODE=interp` is the before/after of
the shard-pruned routes (grpc_100_distinct_aggs: the shard files).

Run it alternately across variants from a driver shell; each invocation
prints one JSON line. 20-iteration warmup per scenario before timing
(the bench's gatling loop runs JVM-warm after 347 entries).
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    mode = os.environ.get("SERVING_MODE", "interp")

    from nsdb_spark.session import tuned_builder

    spark = (
        tuned_builder(f"local[{cpus}]", "serving-ab")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from nsdb_spark.engine import NsdbEngine
    from nsdb_spark.grpc import NsdbGrpcClient, serve_grpc
    from nsdb_spark.model import Bit
    from nsdb_spark.sources import testdata

    res: dict[str, float] = {}
    sc = spark.sparkContext

    def jobs_started() -> int:
        """One past the newest job id (job ids are sequential)."""
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(sc.statusTracker().getJobIdsForGroup(None), default=-1) + 1

    def timed(name: str, run) -> None:
        """res[name] = seconds of run(); res[name + "_jobs"] = its jobs."""
        jobs, t0 = jobs_started(), time.time()
        run()
        res[name] = round(time.time() - t0, 3)
        res[f"{name}_jobs"] = jobs_started() - jobs

    # --- gatling shape (analytics session, like bench.py) ---
    point = testdata.events_metric(spark, sf_dir).limit(1)
    for _ in range(20):
        point.collect()
    timed("gatling_100_point_queries", lambda: [point.collect() for _ in range(100)])

    # --- grpc engine scenarios ---
    engine = NsdbEngine(spark, tempfile.mkdtemp(prefix="grpc_ab_"))
    if mode == "codegen":
        engine._point_route = lambda *a, **k: False  # type: ignore
    engine.insert_bits(
        "default", "default", "points",
        [Bit(t, t % 97, {}, {"k": f"g{t % 5}"}) for t in range(200)],
    )
    if mode == "interp-nocap":
        s = engine._serving_session()
        s.conf.set("spark.sql.files.minPartitionNum", str(cpus))
        s.conf.set("spark.sql.leafNodeDefaultParallelism", str(cpus))
        s.conf.set("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
    server = serve_grpc(engine, port=0)
    client = NsdbGrpcClient(server.host, server.port)
    try:
        for _ in range(20):
            client.execute_sql("default", "default",
                               "select * from points limit 1")
        ok = 0

        def points() -> None:
            nonlocal ok
            for _ in range(100):
                r = client.execute_sql("default", "default",
                                       "select * from points limit 1")
                if r.get("completedSuccessfully") and r.get("records"):
                    ok += 1

        timed("grpc_100_point_queries", points)

        for i in range(20):
            client.execute_sql("default", "default",
                               f"select * from points limit {101 + i}")
        timed("grpc_100_distinct_queries", lambda: [
            client.execute_sql("default", "default", f"select * from points limit {i + 1}")
            for i in range(100)
        ])

        for i in range(20):
            client.execute_sql(
                "default", "default",
                f"select * from points where timestamp >= {100 + i} limit 5")
        timed("grpc_100_distinct_shapes", lambda: [
            client.execute_sql(
                "default", "default", f"select * from points where timestamp >= {i} limit 5")
            for i in range(100)
        ])

        def agg_sql(lo: int) -> str:
            where = f"where timestamp >= {lo} and timestamp < {lo + 100}"
            if lo % 2:
                return f"select sum(value) from points {where} group by interval 1s"
            return f"select count(*) from points {where} group by k"

        for i in range(20):
            client.execute_sql("default", "default", agg_sql(100 + i))
        def aggs() -> None:
            for i in range(100):
                r = client.execute_sql("default", "default", agg_sql(i))
                if not r.get("completedSuccessfully"):
                    raise RuntimeError(f"aggregate rpc failed: {r}")

        timed("grpc_100_distinct_aggs", aggs)
        res["ok"] = ok
    finally:
        client.close()
        server.stop()
    print(json.dumps({"cpus": int(cpus), "mode": mode, **res}))
    spark.stop()


if __name__ == "__main__":
    main()
