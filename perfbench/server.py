"""The server process of the benchmark.

Builds the program through its public API only: a Spark session sized to the
host, an `NsdbEngine` loaded with `insert_frame`, `serve_grpc`,
`http_api.serve` and a shared `SubscriptionManager`; for the batch workload,
the registry's `build_queries()`. It talks to `run.py` in JSON lines: it reads
commands on stdin and answers on its original stdout, which nothing else may
write to (the process's fd 1, and with it the JVM's, goes to the log).

Run as `python3 perfbench/server.py <config.json>`; `run.py` does this.
"""
from __future__ import annotations

import inspect
import itertools
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DB, NS, METRIC = "db", "ns", "events"
#: set-ups per run; setup_s is their median
SETUP_REPS = 3


def _hwm_kb(pid: int) -> int:
    """Peak resident size (VmHWM) in kB of one process, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks(pid: int) -> int:
    """User + system clock ticks of one process, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])
    except (OSError, IndexError):
        return 0


def _tree() -> list[int]:
    """This process and its descendants (the JVM)."""
    todo, out = [os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # it has exited
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo += [int(c) for c in f.read().split()]
            except OSError:
                pass
    return out


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its JVM child: the sum of
    each process's high-water mark."""
    return sum(_hwm_kb(pid) for pid in _tree()) / 1024.0


def cpu_s() -> float:
    """CPU seconds (user + system) this process and its JVM child have
    used so far. Time the hypervisor gives to other machines (steal) is
    not charged to them."""
    return sum(_cpu_ticks(pid) for pid in _tree()) / os.sysconf("SC_CLK_TCK")


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet file count, total bytes of every file) under path."""
    files = size = 0
    for d, _sub, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            size += os.path.getsize(p)
            files += n.endswith(".parquet")
    return files, size


def build_spark(cfg: dict):
    from nsdb_spark.session import DRIVER_JAVA_OPTIONS, tuned_builder

    work = cfg["work_dir"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = cfg["cpus"]
    return (
        tuned_builder(f"local[{cpus}]", "perfbench")
        # heap and young generation sizes fixed (-Xms = -Xmx, -Xmn), so the
        # collector sizes neither from its pause times, which follow the
        # host's load; pages count as resident once the program touches
        # them. -UsePerfData: no hsperfdata file outside the work directory
        .config("spark.driver.extraJavaOptions",
                f"{DRIVER_JAVA_OPTIONS} -Xms{cfg['driver_memory']} -Xmn512m "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .config("spark.driver.memory", cfg["driver_memory"])
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run resolves every request's jobs after its window
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
        .getOrCreate()
    )


# --------------------------------------------------------------- Spark jobs
class SparkJobs:
    """Per-request Spark job accounting: a job group per request id, set on
    the request's thread, resolved through the status store afterwards."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.batch_groups = itertools.count()

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self, group: str) -> list[tuple[int, int, int, int]]:
        """[(job id, tasks, submit ms, end ms)] of a group's jobs."""
        jsc = self.sc._jsc.sc()
        store = jsc.statusStore()
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            out.append((
                jid, jd.numTasks(),
                sub.get().getTime() if sub.isDefined() else 0,
                done.get().getTime() if done.isDefined() else 0,
            ))
        return out


# ------------------------------------------------------------------ tracing
def install_tracing(tracer) -> None:
    """Wrap each layer's public functions at the names callers use."""
    import pyspark.sql.classic.dataframe as cdf
    import pyspark.sql.readwriter as rw

    from nsdb_spark import analyzer, catalog, compiler, engine, http_api
    from nsdb_spark.grpc import proto
    from nsdb_spark.grpc import server as grpc_server
    from nsdb_spark.sources import testdata
    from nsdb_spark.sql import parser
    from nsdb_spark.streaming import subscribe

    def grpc_kind(args):
        path = dict(args[2].headers).get(":path", "")
        if path.endswith("/executeSQLStatement"):
            return "read"
        return "write" if path.endswith("/InsertBit") else None

    def http_kind(args):
        return {"/query": "read", "/data": "write"}.get(args[0].path)

    w = tracer.wrap
    w(grpc_server.NsdbGrpcServer, "_dispatch", "grpc.dispatch", root=grpc_kind)
    w(grpc_server.NsdbGrpcServer, "_execute_sql", "grpc.handler",
      note=lambda args: args[1].get("statement", ""))
    w(http_api._Handler, "do_POST", "http.handler", root=http_kind)
    for f in ("encode", "decode"):
        w(proto, f, "grpc.codec")
    for mod in (engine, parser, subscribe, testdata):
        w(mod, "parse", "sql.parse")
    for mod in (analyzer, testdata):
        w(mod, "analyze", "analyzer.analyze")
    w(compiler.QueryCompiler, "compile", "compiler.compile")
    w(engine, "serving_sql", "compiler.compile")
    for name, fn in list(vars(catalog.Warehouse).items()):
        if not name.startswith("_") and inspect.isfunction(fn):
            w(catalog.Warehouse, name, f"catalog.{name}")
    for name in ("collect_select", "query_records", "execute", "insert_bits"):
        w(engine.NsdbEngine, name, "engine")
    w(engine.NsdbEngine, "_maintain_rollups_on_write", "write.rollup")
    for name in ("collect", "count", "toPandas"):
        w(cdf.DataFrame, name, "spark.action")
    w(rw.DataFrameWriter, "parquet", "spark.write")
    w(subscribe.SubscriptionManager, "publish", "subscribe.publish")
    w(http_api._SubscriptionChannel, "push", "subscribe.push")


def layer_report(tracer, jobs: SparkJobs) -> tuple[dict, list]:
    """Aggregate the spans of the traced slices into per-op layer figures;
    also returns every request as (kind, start, end, handler ms,
    statement) for the client to match its own timings against."""
    from spans import layer_times

    spans, kinds, notes = tracer.take()
    # a request whose root span had not closed yet (its reply already
    # sent) is left out
    per = {r: p for r, p in layer_times(spans).items() if "root_span" in p}
    reads = [r for r, k in kinds.items() if k == "read" and r in per]
    writes = [r for r, k in kinds.items() if k == "write" and r in per]

    def mean(rids, fn):
        return sum(fn(per[r]) for r in rids) / len(rids) if rids else 0.0

    def self_ms(prefix):
        return lambda p: sum(v for k, v in p["self"].items() if k.startswith(prefix))

    def incl(name):
        return lambda p: p["incl"].get(name, 0.0)

    out = {
        "read_ops": len(reads),
        "write_ops": len(writes),
        "sql.parse_ms": mean(reads, self_ms("sql.parse")),
        "analyzer.analyze_ms": mean(reads, self_ms("analyzer.analyze")),
        "catalog.calls_per_op": mean(
            reads, lambda p: sum(v for k, v in p["calls"].items() if k.startswith("catalog."))),
        "catalog.ms_per_op": mean(reads, self_ms("catalog.")),
        "compiler.compile_ms": mean(reads, self_ms("compiler.compile")),
        "engine.self_ms": mean(reads, self_ms("engine")),
        "spark.action_ms": mean(reads, incl("spark.action")),
        "grpc.codec_ms": mean(reads, self_ms("grpc.codec")),
        "write.schema_ms": mean(writes, incl("catalog.update_schema")),
        "write.parquet_ms": mean(
            writes, lambda p: incl("spark.write@engine")(p) - incl("spark.write@write.rollup")(p)),
        "write.rollup_ms": mean(writes, incl("write.rollup")),
        "subscribe.publish_ms": mean(writes, incl("subscribe.publish")),
        "subscribe.pushes_per_write": mean(
            writes, lambda p: p["calls"].get("subscribe.push", 0)),
    }
    hits = sum(1 for r in reads if not per[r]["calls"].get("spark.action"))
    out["engine.cache_hit_ratio"] = hits / len(reads) if reads else 0.0
    js = [jobs.jobs(f"pb-{r}") for r in reads]
    out["spark.jobs_per_op"] = mean_of([len(j) for j in js])
    out["spark.tasks_per_op"] = mean_of([sum(t[1] for t in j) for j in js])
    requests = [
        (kinds[r], *per[r]["root_span"],
         per[r]["incl"].get("grpc.handler", per[r]["root_ms"]), notes.get(r))
        for r in reads + writes
    ]
    return out, requests


def mean_of(values: list) -> float:
    return sum(values) / len(values) if values else 0.0


# ------------------------------------------------------------------- setups
def warm_statements(seed: int) -> list[str]:
    """ingest_live's warm-up: one statement of each class its reader sends
    (a novel point read, the rollup-routed aggregates)."""
    import numpy as np

    import gen

    return [gen.point_statement(np.random.default_rng([seed, 9]))["sql"],
            *gen.ROLLUP_STATEMENTS]


def setup_serving(spark, cfg: dict) -> tuple[object, dict]:
    """Set the events metric up in a fresh warehouse SETUP_REPS times
    (insert_frame, then the 1 h rollup for ingest_live); setup_s is the
    median of their CPU seconds, setup.load_s of their wall seconds. The
    last one serves; on ingest_live it first runs a few warm
    statements (timed once, outside setup_s: they are the benchmark's, not
    the program's; dashboard_reads warms up through its hot pool).
    Returns (engine, timings)."""
    from nsdb_spark.engine import NsdbEngine
    from nsdb_spark.sql.parser import parse

    import gen

    loads, cpus = [], []
    engine = None
    for i in range(SETUP_REPS):
        if engine is not None:
            shutil.rmtree(engine.warehouse.root)
        t0, c0 = time.perf_counter(), cpu_s()
        engine = NsdbEngine(spark, os.path.join(cfg["work_dir"], f"warehouse{i}"))
        engine.insert_frame(
            DB, NS, METRIC, spark.read.parquet(cfg["events_path"]), tags=gen.TAGS
        )
        if cfg["workload"] == "ingest_live":
            engine.materialize_rollup(DB, NS, METRIC, gen.HOUR_MS)
        loads.append(time.perf_counter() - t0)
        cpus.append(cpu_s() - c0)
    t0 = time.perf_counter()
    if cfg["workload"] == "ingest_live":
        for sql in warm_statements(cfg["seed"]):
            engine.collect_select(parse(sql, db=DB, namespace=NS))
    warm = time.perf_counter() - t0
    return engine, {"load": statistics.median(loads), "warm": warm,
                    "cpu": statistics.median(cpus), "reps": loads}


def setup_batch(spark, cfg: dict) -> tuple[dict, dict]:
    """Registry set-up, SETUP_REPS times: build_queries(), the first
    read of the input through the events adapter, and every selected
    entry's DataFrame built (not run). Returns (queries, medians of their
    wall and CPU seconds)."""
    from nsdb_spark.entry_queries import build_queries
    from nsdb_spark.sources import testdata

    times, cpus = [], []
    queries = None
    for _ in range(SETUP_REPS):
        t0, c0 = time.perf_counter(), cpu_s()
        queries = build_queries()
        testdata.events_metric(spark, cfg["batch_dir"]).count()
        for name in cfg["entries"]:
            queries[name](spark, cfg["batch_dir"])
        times.append(time.perf_counter() - t0)
        cpus.append(cpu_s() - c0)
    return queries, {"load": statistics.median(times), "warm": 0.0,
                     "cpu": statistics.median(cpus), "reps": times}


# -------------------------------------------------------------------- batch
def _cell(v):
    """JSON-safe canonical value for the oracle comparison."""
    import datetime
    import decimal

    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return repr(v)


def run_entry(spark, jobs: SparkJobs, fn, batch_dir: str, group: str, keep: bool) -> dict:
    spark.catalog.clearCache()
    jobs.start(group)
    try:
        t0 = time.perf_counter()
        df = fn(spark, batch_dir)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
    finally:
        jobs.stop()
    out = {"build_s": t1 - t0, "exec_s": t2 - t1, "wall0": time.time() - (t2 - t1)}
    if keep:
        out["columns"] = df.columns
        out["rows"] = [[_cell(v) for v in r] for r in rows]
    return out


def run_batch(spark, jobs: SparkJobs, queries: dict, cfg: dict, seconds: float,
              keep_first: bool, min_passes: int) -> dict:
    """Sequential passes over the entry set: `min_passes`, then more while
    the next should end within `seconds` at the median pass so far.
    Returns per-entry lists of build/exec seconds, Spark job and task
    counts, and driver gap seconds (exec time in which no job of the entry
    was running), plus the CPU seconds the passes used."""
    res = {n: {"build_s": [], "exec_s": [], "jobs": [], "tasks": [], "gap_s": []}
           for n in cfg["entries"]}
    cpu0 = cpu_s()
    first: dict = {}
    pass_s: list[float] = []
    deadline = time.perf_counter() + seconds
    while (len(pass_s) < min_passes
           or time.perf_counter() + statistics.median(pass_s) <= deadline):
        t_pass = time.perf_counter()
        for name in cfg["entries"]:
            group = f"batch-{next(jobs.batch_groups)}"
            r = run_entry(spark, jobs, queries[name], cfg["batch_dir"], group,
                          keep_first and not pass_s)
            if "rows" in r:
                first[name] = {"columns": r["columns"], "rows": r["rows"]}
            js = jobs.jobs(group)
            lo, hi = r["wall0"] * 1000, (r["wall0"] + r["exec_s"]) * 1000
            covered, cur = 0.0, lo
            for _jid, _t, s, e in sorted(js, key=lambda j: j[2]):
                s, e = max(s, cur), min(e or hi, hi)
                if e > s:
                    covered += e - s
                    cur = e
            e = res[name]
            e["build_s"].append(r["build_s"])
            e["exec_s"].append(r["exec_s"])
            e["jobs"].append(len(js))
            e["tasks"].append(sum(j[1] for j in js))
            e["gap_s"].append(max(r["exec_s"] - covered / 1000.0, 0.0))
        pass_s.append(time.perf_counter() - t_pass)
    return {"entries": res, "pass_s": pass_s, "first": first, "cpu_s": cpu_s() - cpu0}


# --------------------------------------------------------------------- main
def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    # the protocol channel is the original stdout; everything else written
    # to fd 1 (including by the JVM, which inherits it) goes to the log
    chan = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    def say(obj):
        chan.write(json.dumps(obj) + "\n")

    tracer = None
    if cfg["trace"]:
        from spans import Tracer

        # installed before the servers are built: the gRPC server binds
        # its handlers when it is constructed
        tracer = Tracer()
        install_tracing(tracer)

    t0 = time.perf_counter()
    spark = build_spark(cfg)
    spark.sparkContext.setLogLevel("ERROR")
    spark_s = time.perf_counter() - t0
    jobs = SparkJobs(spark)
    if tracer is not None:
        tracer.on_root_start = lambda rid: jobs.start(f"pb-{rid}")
        tracer.on_root_end = lambda rid: jobs.stop()

    ready = {"event": "ready", "setup_spark_s": spark_s}
    engine = queries = None
    if cfg["workload"] == "analytics_batch":
        queries, setup = setup_batch(spark, cfg)
    else:
        from nsdb_spark import http_api
        from nsdb_spark.grpc import serve_grpc
        from nsdb_spark.streaming.subscribe import SubscriptionManager

        engine, setup = setup_serving(spark, cfg)
        subs = SubscriptionManager(engine)
        grpc_srv = serve_grpc(engine, subscriptions=subs)
        http_srv, _t = http_api.serve(engine, subscription_manager=subs)
        ready.update(grpc_port=grpc_srv.port, http_port=http_srv.server_address[1],
                     warehouse=engine.warehouse.root)
    ready.update(setup_load_s=setup["load"], setup_warm_s=setup["warm"],
                 setup_s=setup["cpu"], setup_reps_s=setup["reps"])
    say(ready)

    for line in sys.stdin:
        cmd = json.loads(line)
        c = cmd["cmd"]
        if c == "trace":
            if tracer is not None:
                tracer.enabled = cmd["on"]
            say({"event": "trace", "on": cmd["on"]})
        elif c == "layers":
            layers, requests = layer_report(tracer, jobs)
            say({"event": "layers", "layers": layers, "requests": requests})
        elif c == "batch":
            out = run_batch(spark, jobs, queries, cfg, cmd["seconds"],
                            cmd.get("keep_first", False), cmd["min_passes"])
            say({"event": "batch", **out})
        elif c == "rollup":
            import gen

            engine.materialize_rollup(DB, NS, METRIC, gen.HOUR_MS)
            say({"event": "rollup"})
        elif c == "storage":
            data = engine.warehouse.data_path(DB, NS, METRIC)
            files = dir_stats(data)[0]
            say({"event": "storage", "metric_files": files,
                 "warehouse_bytes": dir_stats(engine.warehouse.root)[1]})
        elif c == "rss":
            say({"event": "rss", "peak_rss_mb": peak_rss_mb()})
        elif c == "cpu":
            say({"event": "cpu", "cpu_s": cpu_s()})
    # no clean-up (listeners, spark.stop()): run.py kills the whole
    # process group, the JVM included, and the work directory goes with it
    return 0


if __name__ == "__main__":
    sys.exit(main())
