#!/usr/bin/env python3
"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload dashboard_reads --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from --seed, starts the server process
(perfbench/server.py), drives the load for --seconds, checks the outputs
against DuckDB, and prints two lines: a report with every metric of the
workload by name and unit plus the host facts, then (last) the result
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 tracing is on in every
other slice of the window, and the run reports the per-layer metrics, the
traced slices' end-to-end figures and the tracing overhead. See METRICS.md.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

WORKLOADS = ("dashboard_reads", "ingest_live", "analytics_batch")
#: the analytics entries run per pass: the sub-second entries over
#: `events` (the per-action floor)
BATCH_ENTRIES = (
    "nsdb_groupby_sum", "nsdb_scan_order_limit", "nsdb_groupby_count_distinct",
    "rollup_temporal_sum",
)
#: analytics_batch's per-entry minima cover at least this many passes,
#: even when a loaded host stretches them past the window (more would
#: stretch a loaded run past its share of the benchmark's time budget)
MIN_PASSES = 3
#: untimed passes before analytics_batch's window (the first one's results
#: are the ones checked), so JIT and codegen settle first
WARM_PASSES = 2
#: ingest_live's open-loop writer sends one insert every this many seconds
#: (its other writer runs a closed loop)
OPEN_WRITE_PERIOD_S = 3.0
#: a run whose generator sent later than this (p95) is invalid
LATE_BOUND_MS = 250.0
SAMPLE_P = 0.15


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="data scale: 0.1 = 100k events per 30-day shard")
    return p.parse_args(argv)


# ---------------------------------------------------------------- statistics
def pct(values: list[float], q: float) -> float:
    """q-th percentile (0-100), linear interpolation; 0.0 when empty."""
    if not values:
        return 0.0
    s = sorted(values)
    k = (len(s) - 1) * q / 100.0
    f = int(k)
    c = min(f + 1, len(s) - 1)
    return s[f] + (s[c] - s[f]) * (k - f)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------- host facts
def commit_id() -> str:
    """git HEAD when the tree is a git checkout, else a hash of the sources."""
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        path = os.path.join(ROOT, ".git", ref[5:])
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
    h = hashlib.sha1()
    for top in ("nsdb_spark", "perfbench"):
        for d, _subs, names in sorted(os.walk(os.path.join(ROOT, top))):
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(d, n), "rb") as f:
                        h.update(n.encode() + f.read())
    return "tree-" + h.hexdigest()[:16]


def host_facts(args, cpus: int) -> dict:
    import pyspark

    return {
        "nproc": cpus, "sf": args.sf, "seed": args.seed,
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        "spark": pyspark.__version__, "python": platform.python_version(),
        "commit": commit_id(),
    }


# -------------------------------------------------------------------- server
class Server:
    """The server process and its JSON-lines channel."""

    def __init__(self, cfg: dict, work: str) -> None:
        path = os.path.join(work, "server.json")
        with open(path, "w") as f:
            json.dump(cfg, f)
        self.log_path = os.path.join(work, "server.log")
        self._log = open(self.log_path, "w")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, TMPDIR=tmp, PYTHONUNBUFFERED="1",
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            text=True, cwd=work, env=env, start_new_session=True,
        )
        self._q: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self._q.put(line)
        self._q.put(None)

    def recv(self, event: str, timeout: float) -> dict:
        end = time.monotonic() + timeout
        while True:
            try:
                line = self._q.get(timeout=max(end - time.monotonic(), 0.01))
            except queue.Empty:
                raise RuntimeError(f"server: no {event!r} within {timeout:.0f}s") from None
            if line is None:
                raise RuntimeError(f"server exited (code {self.proc.wait()}) "
                                   f"before {event!r}; log: {self.log_path}")
            msg = json.loads(line)
            if msg.get("event") == event:
                return msg

    def call(self, cmd: dict, event: str, timeout: float = 60.0) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.recv(event, timeout)

    def close(self) -> None:
        """Kill the server's whole process group (the JVM included) and
        wait until it has ended; it holds nothing that must be flushed."""
        pgid = self.proc.pid
        end = time.monotonic() + 15
        while time.monotonic() < end:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                break
            self.proc.poll()  # reap the leader, else it lingers as a zombie
            time.sleep(0.05)
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self._log.close()

    def tail(self, n: int = 30) -> str:
        try:
            with open(self.log_path) as f:
                return "".join(f.readlines()[-n:])
        except OSError:
            return ""


# ----------------------------------------------------------------- workloads
#: the operation whose median latency is a serving workload's p50_ms: a
#: novel point read (on analytics_batch, p50_ms is the median entry)
REFERENCE_OP = "point"


def window_figures(ops: list[tuple], seconds: float, share: float = 1.0) -> dict:
    """e2e figures of the operations a serving window started, plus
    per-class latencies. `share` is the part of the window's time the
    operations were drawn from (a half, in a traced run)."""
    ops = [o for o in ops if o[0] != "write_rtt"]
    by: dict[str, list[float]] = {}
    for cls, _t0, ms, _ok, _sql in ops:
        by.setdefault(cls, []).append(ms)
    if not by.get(REFERENCE_OP):
        raise RuntimeError(f"no {REFERENCE_OP} read completed in the window")
    out = {
        "ops_per_s": sum(1 for o in ops if o[3]) / (seconds * share),
        "p50_ms": median(by[REFERENCE_OP]),
        "read_ops_per_s": sum(len(by.get(c, [])) for c in ("point", "hot", "agg"))
        / (seconds * share),
    }
    for cls, v in by.items():
        out[f"{cls}_p50_ms"] = median(v)
        out[f"{cls}_p95_ms"] = pct(v, 95)
        out[f"{cls}_n"] = len(v)
    return out


class TraceToggle(threading.Thread):
    """Switches the server's tracing on and off in equal slices of about
    SLICE_S across a traced window, so the traced and untraced halves share
    the same warm-up and load; an operation belongs to the slice it
    started in."""

    #: not a divisor of ingest_live's open-loop write period, so its
    #: writes land in traced and untraced slices alike
    SLICE_S = 1.3

    def __init__(self, srv: Server, seconds: float) -> None:
        super().__init__(daemon=True)
        self.n = 2 * max(round(seconds / (2 * self.SLICE_S)), 1)
        self.srv, self.slice_s = srv, seconds / self.n
        self.starts: list[tuple[float, bool]] = []

    def run(self) -> None:
        t0 = time.perf_counter()
        for k in range(self.n):
            on = k % 2 == 0
            self.srv.call({"cmd": "trace", "on": on}, "trace")
            self.starts.append((time.perf_counter(), on))
            time.sleep(max(t0 + (k + 1) * self.slice_s - time.perf_counter(), 0.0))
        self.srv.call({"cmd": "trace", "on": False}, "trace")

    def traced(self, t: float) -> bool:
        on = False
        for start, state in self.starts:
            if start > t:
                break
            on = state
        return on


def run_serving(args, srv: Server, ready: dict, facts: dict) -> tuple[dict, dict]:
    """One window of --seconds; in a traced run, tracing is on in every
    other slice of it."""
    import checks
    import loads

    rec = loads.Recorder()
    ingest = None
    if args.workload == "ingest_live":
        ingest = loads.Ingest(ready["http_port"], args.seed, OPEN_WRITE_PERIOD_S, SAMPLE_P,
                              rec)
    toggle = TraceToggle(srv, args.seconds) if args.trace else None
    cpu = []  # server CPU seconds as the window opens and after it closes

    def on_start() -> None:
        cpu.append(srv.call({"cmd": "cpu"}, "cpu")["cpu_s"])
        if toggle is not None:
            toggle.start()

    if ingest is None:
        ready["setup_warm_s"] = loads.dashboard_reads(
            ready["grpc_port"], args.seed, args.seconds, clients=4, sample_p=SAMPLE_P,
            rec=rec, on_start=on_start)
    else:
        ingest.run(args.seconds, on_start=on_start)
    ready["window_end"] = time.perf_counter()
    if toggle is not None:
        toggle.join(timeout=30)
    cpu.append(srv.call({"cmd": "cpu"}, "cpu")["cpu_s"])
    if toggle is not None:
        answer = srv.call({"cmd": "layers"}, "layers", timeout=120)
        layers, requests = answer["layers"], answer["requests"]
        untraced = [o for o in rec.ops if not toggle.traced(o[1])]
        traced = [o for o in rec.ops if toggle.traced(o[1])]
        w0 = window_figures(untraced, args.seconds, share=0.5)
        w1 = window_figures(traced, args.seconds, share=0.5)
    else:
        w0 = window_figures(rec.ops, args.seconds)
    storage = srv.call({"cmd": "storage"}, "storage")

    events = ready["events_table"]
    rows = events.num_rows
    extra = {}
    mismatches: list[str] = []
    if ingest is not None:
        extra, mismatches = ingest_figures(ready, ingest)
        rows += len(ingest.acked)
    con = checks.connect(events)
    for stmt, got in rec.samples:
        mismatches += checks.check_statement(con, stmt, got)
    ops = [o for o in rec.ops if o[0] != "write_rtt"]
    attempted = len(ops)
    done = sum(1 for o in ops if o[3])
    failed = attempted - done + len(mismatches)

    e2e = {"setup_s": ready["setup_s"],
           "peak_rss_mb": srv.call({"cmd": "rss"}, "rss")["peak_rss_mb"],
           "cpu_ms_per_op": (cpu[1] - cpu[0]) * 1000 / max(done, 1),
           "ops_per_s": w0["ops_per_s"], "p50_ms": w0["p50_ms"]}
    report = {**facts, "metrics": {
        **e2e, "setup_wall_s": ready["setup_load_s"],
        **{k: v for k, v in w0.items() if k not in e2e}, **extra,
        "disk_bytes_per_row": storage["warehouse_bytes"] / rows,
        "failed_pct": 100.0 * failed / max(attempted, 1)},
        "errors": rec.errors[:5], "mismatches": mismatches[:5]}
    if extra.get("gen.late_p95_ms", 0.0) > LATE_BOUND_MS:
        report["invalid"] = f"generator late p95 {extra['gen.late_p95_ms']:.1f} ms"
    result = {"attempted": attempted, "failed": failed, "e2e": e2e}
    if toggle is not None:
        layers.update({
            "grpc.wire_ms": wire_ms(rec.ops, requests, ("point", "hot", "agg"), "read")
            if ingest is None else 0.0,
            "http.wire_ms": wire_ms(rec.ops, requests, ("write_rtt",), "write"),
            "storage.files": storage["metric_files"],
            "setup.spark_s": ready["setup_spark_s"],
            "setup.load_s": ready["setup_load_s"],
            "setup.warm_s": ready["setup_warm_s"],
            "gen.late_p95_ms": extra.get("gen.late_p95_ms", 0.0),
            **traced_figures(w0, w1),
        })
        report["traced"] = w1
        result["layers"] = layers
        if ingest is None:
            write_layers, report["write_phase"], n, bad = write_phase(args, srv, ready)
            layers.update(write_layers)
            result["attempted"] += n
            result["failed"] += bad
            if write_layers["gen.late_p95_ms"] > LATE_BOUND_MS:
                report["invalid"] = (f"write phase: generator late p95 "
                                     f"{write_layers['gen.late_p95_ms']:.1f} ms")
    return result, report


#: the layers dashboard_reads' traced run takes from its write phase
WRITE_LAYERS = ("write_ops", "write.schema_ms", "write.parquet_ms", "write.rollup_ms",
                "subscribe.publish_ms", "subscribe.pushes_per_write")


def write_phase(args, srv: Server, ready: dict) -> tuple[dict, dict, int, int]:
    """The end of dashboard_reads' traced run: the 1 h rollup is
    materialized, then the ingest_live load runs for --seconds, traced
    throughout, so the write path's layers are measured in a workload
    BENCHMARK.json lists. Returns (layers, report figures, operations
    attempted, operations failed)."""
    import loads

    srv.call({"cmd": "rollup"}, "rollup", timeout=120)
    rec = loads.Recorder()
    ingest = loads.Ingest(ready["http_port"], args.seed, OPEN_WRITE_PERIOD_S, SAMPLE_P, rec)
    ingest.run(args.seconds, on_start=lambda: srv.call({"cmd": "trace", "on": True}, "trace"))
    srv.call({"cmd": "trace", "on": False}, "trace")
    answer = srv.call({"cmd": "layers"}, "layers", timeout=120)
    figures, mismatches = ingest_figures(ready, ingest)
    layers = {k: answer["layers"][k] for k in WRITE_LAYERS}
    layers.update({
        "http.wire_ms": wire_ms(rec.ops, answer["requests"], ("write_rtt",), "write"),
        "storage.files": srv.call({"cmd": "storage"}, "storage")["metric_files"],
        "gen.late_p95_ms": figures["gen.late_p95_ms"],
    })
    ops = [o for o in rec.ops if o[0] != "write_rtt"]
    figures["write_p50_ms"] = median([o[2] for o in ops if o[0] == "write"])
    return layers, figures, len(ops), sum(1 for o in ops if not o[3]) + len(mismatches)


def ingest_figures(ready: dict, ingest) -> tuple[dict, list[str]]:
    """Report figures of an ingest_live load, and its correctness
    mismatches."""
    return ({"acked_writes": len(ingest.acked), "push_p50_ms": median(ingest.push_ms()),
             "gen.late_p95_ms": pct(ingest.late_ms, 95)},
            ingest_checks(ready, ingest, ready["events_table"]))


END_SLACK_S = 0.005


def wire_ms(ops: list[tuple], requests: list, classes: tuple, kind: str) -> float:
    """Mean client time minus server handler time, over the client
    operations matched to a traced request of `kind`: the same statement
    (where both sides know it) and the server's interval inside the
    client's (both processes read the same monotonic clock). The HTTP
    handler sends its reply before its span closes, so the server's
    interval may end up to END_SLACK_S after the client's."""
    client = [o for o in ops if o[0] in classes]
    used: set[int] = set()
    diffs = []
    for _kind, s0, s1, handler_ms, note in sorted(r for r in requests if r[0] == kind):
        best = None
        for i, (_c, c0, ms, _ok, sql) in enumerate(client):
            c1 = c0 + ms / 1000
            if i in used or not (c0 <= s0 and s1 <= c1 + END_SLACK_S):
                continue
            if note is not None and sql is not None and note != sql:
                continue
            slack = (c1 - c0) - (s1 - s0)
            if best is None or slack < best[0]:
                best = (slack, i)
        if best is not None:
            used.add(best[1])
            diffs.append(client[best[1]][2] - handler_ms)
    return sum(diffs) / len(diffs) if diffs else 0.0


def traced_figures(w0: dict, w1: dict) -> dict:
    """The traced window's e2e figures and the tracing overhead on p50_ms
    (traced minus untraced window of the same run)."""
    return {
        "traced.ops_per_s": w1["ops_per_s"],
        "traced.p50_ms": w1["p50_ms"],
        "trace.overhead_ms": w1["p50_ms"] - w0["p50_ms"],
        "trace.overhead_pct": 100.0 * (w1["p50_ms"] - w0["p50_ms"]) / w0["p50_ms"]
        if w0["p50_ms"] else 0.0,
    }


def ingest_checks(ready: dict, ingest, events) -> list[str]:
    """Every acknowledged insert is readable at the end and was pushed at
    least once; the rollup-routed aggregates match the final rows."""
    import pyarrow as pa

    import checks
    import gen
    import loads

    def query(sql):
        return loads.http_call(ready["http_port"], "POST", "/query", {
            "db": "db", "namespace": "ns", "metric": "events", "queryString": sql})

    errs = []
    status, body = query(f"{ingest.SUB_SQL} limit 1000000")
    if status != 200:
        return [f"final read failed: {status} {body}"]
    stored = {r["event_id"]: r for r in body["records"]}
    for eid, bit in ingest.acked.items():
        r = stored.get(eid)
        if r is None or r["timestamp"] != bit["timestamp"] or r["value"] != bit["value"]:
            errs.append(f"acknowledged insert {eid} not readable as written: {r}")
    unpushed = [e for e in ingest.acked if e not in ingest.pushed]
    if unpushed:
        errs.append(f"{len(unpushed)} acknowledged inserts never pushed, e.g. {unpushed[:3]}")
    live = list(ingest.acked.values())
    final = pa.concat_tables([events, pa.table({
        "timestamp": [b["timestamp"] for b in live],
        "value": [b["value"] for b in live],
        "event_id": [b["dimensions"]["event_id"] for b in live],
        "event_type": [b["tags"]["event_type"] for b in live],
        "props": [b["dimensions"]["props"] for b in live],
        "user_id": [b["tags"]["user_id"] for b in live],
    }, schema=events.schema)])
    con = checks.connect(final)
    for sql in gen.ROLLUP_STATEMENTS:
        status, body = query(sql)
        if status != 200:
            errs.append(f"{sql}: {status} {body}")
            continue
        agg = sql.split()[1]
        alias = agg.split("(")[0] + "_value"
        got = [{**r, "value": r.get(alias)} for r in body["records"]]
        errs += checks.check_buckets(con, sql, got, None, None, agg=agg)
    return errs


def run_batch(args, srv: Server, ready: dict, facts: dict) -> tuple[dict, dict]:
    """WARM_PASSES warm-up passes (the first is cold: JIT and codegen; its
    results are the ones checked against the oracles), then the measured
    window of passes. The
    batch layers come from per-entry job groups, recorded in every run;
    nothing else is traced, so a traced run reports its one window as the
    traced figures with no overhead."""
    import checks
    from nsdb_spark.entry_queries import build_oracles

    warm = srv.call({"cmd": "batch", "seconds": 0, "min_passes": WARM_PASSES,
                     "keep_first": True}, "batch", timeout=170)
    first = warm["first"]
    w0 = batch_figures(srv.call(
        {"cmd": "batch", "seconds": args.seconds, "min_passes": MIN_PASSES}, "batch",
        timeout=170))
    ready["window_end"] = time.perf_counter()
    oracles = build_oracles()
    con = checks.connect_dir(os.path.join(ready["work_dir"], "batch"))
    mismatches = []
    for name in BATCH_ENTRIES:
        mismatches += checks.check_entry(con, name, oracles[name], first[name])
    attempted = len(BATCH_ENTRIES) * (len(warm["pass_s"]) + w0["passes"])
    failed = len(mismatches)
    e2e = {"setup_s": ready["setup_s"],
           "peak_rss_mb": srv.call({"cmd": "rss"}, "rss")["peak_rss_mb"],
           "cpu_ms_per_op": w0["cpu_s"] * 1000 / (len(BATCH_ENTRIES) * w0["passes"]),
           "ops_per_s": w0["ops_per_s"], "p50_ms": w0["p50_ms"]}
    report = {**facts, "metrics": {
        **e2e, "setup_wall_s": ready["setup_load_s"], "batch_s": w0["batch_s"],
        "passes": w0["passes"],
        "warm_pass_s": warm["pass_s"][0], "failed_pct": 100.0 * failed / attempted},
        "mismatches": mismatches[:5]}
    result = {"attempted": attempted, "failed": failed, "e2e": e2e}
    if args.trace:
        result["layers"] = {
            **w0["layers"],
            "setup.spark_s": ready["setup_spark_s"], "setup.load_s": ready["setup_load_s"],
            "setup.warm_s": sum(warm["pass_s"]),
            **traced_figures(w0, w0),
        }
    return result, report


def batch_figures(out: dict) -> dict:
    """Per entry, the minimum cost (build + exec) over the window's passes:
    the pass least disturbed by load from outside the program. batch_s =
    the sum of those minima, ops_per_s = entries per second at them,
    p50_ms = their median (the typical entry); per-entry layer figures for
    the trace."""
    layers, per_entry = {}, []
    gap = 0.0
    for name, e in out["entries"].items():
        per_entry.append(min(b + x for b, x in zip(e["build_s"], e["exec_s"])))
        layers[f"batch.{name}.build_s"] = min(e["build_s"])
        layers[f"batch.{name}.exec_s"] = min(e["exec_s"])
        layers[f"batch.{name}.jobs"] = median(e["jobs"])
        layers[f"batch.{name}.tasks"] = median(e["tasks"])
        gap += median(e["gap_s"])
    layers["batch.driver_gap_s"] = gap
    batch_s = sum(per_entry)
    return {"batch_s": batch_s, "ops_per_s": len(per_entry) / batch_s,
            "p50_ms": median(per_entry) * 1000, "passes": len(out["pass_s"]),
            "cpu_s": out["cpu_s"], "layers": layers}


# ---------------------------------------------------------------------- main
def prepare_inputs(args, work: str):
    import pyarrow.parquet as pq

    import gen

    if args.workload == "analytics_batch":
        table = gen.batch_events(args.seed, args.sf)
        os.makedirs(os.path.join(work, "batch"))
        pq.write_table(table, os.path.join(work, "batch", "events.parquet"))
    else:
        table = gen.serving_events(args.seed, args.sf)
        os.makedirs(os.path.join(work, "input"))
        pq.write_table(table, os.path.join(work, "input", "events.parquet"))
    return table


def run(args) -> tuple[dict, dict]:
    cpus = len(os.sched_getaffinity(0))
    facts = host_facts(args, cpus)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    srv = None
    t0 = time.perf_counter()
    try:
        table = prepare_inputs(args, work)
        t_inputs = time.perf_counter() - t0
        cfg = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": cpus, "driver_memory": "2g",
            "work_dir": work,
            "events_path": os.path.join(work, "input", "events.parquet"),
            "batch_dir": os.path.join(work, "batch"),
            "entries": list(BATCH_ENTRIES),
        }
        srv = Server(cfg, work)
        try:
            ready = srv.recv("ready", timeout=150)
            t_ready = time.perf_counter() - t0
            ready.update(events_table=table, work_dir=work)
            runner = run_batch if args.workload == "analytics_batch" else run_serving
            result, report = runner(args, srv, ready, facts)
            report["phases_s"] = {"inputs": t_inputs, "ready": t_ready,
                                  "setup_spark": ready["setup_spark_s"],
                                  "setup_reps": ready["setup_reps_s"],
                                  "setup_warm": ready["setup_warm_s"],
                                  "window_end": ready["window_end"] - t0,
                                  "done": time.perf_counter() - t0}
            return result, report
        except Exception:
            sys.stderr.write(srv.tail())
            raise
    finally:
        if srv is not None:
            srv.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there


def unit_of(name: str) -> str:
    """Unit of a report figure, from its name's suffix."""
    for suffix, unit in (("_ms", "ms"), ("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB"),
                         ("_pct", "%"), ("bytes_per_row", "B/row")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    result, report = run(args)
    if report.get("invalid"):
        print(json.dumps({"report": {k: v for k, v in report.items() if k != "metrics"}}))
        print(f"invalid run: {report['invalid']}", file=sys.stderr)
        return 3
    if args.trace:
        # every layer figure, those BENCHMARK.json does not list included
        report["layers"] = result["layers"]
    for key in ("metrics", "traced", "write_phase", "layers"):
        if key in report:
            report[key] = {k: {"value": v, "unit": unit_of(k)} for k, v in report[key].items()}
    print(json.dumps({"report": report}, default=str))
    if args.trace:
        # a layer the workload does not load reads 0
        metrics = {k: {"value": result["layers"].get(k, 0.0), "unit": u}
                   for k, u in unit_table("per_layer")}
    else:
        metrics = {k: {"value": result["e2e"][k], "unit": u}
                   for k, u in unit_table("end_to_end")}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


def unit_table(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the `end_to_end` or `per_layer` metrics of
    BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


if __name__ == "__main__":
    sys.exit(main())
