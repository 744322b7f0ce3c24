"""Load generators: the client side of each workload.

Every client thread draws its statements from its own seeded stream, so a
seed fixes the inputs; how far into the stream a thread gets depends on the
system's speed. A timed operation is recorded as
(class, start time, latency ms, ok), plus the response when the seeded
sample picks it for the correctness check.
"""
from __future__ import annotations

import http.client
import itertools
import json
import threading
import time

import numpy as np

import gen

DB, NS = "db", "ns"
#: dashboard_reads' mix per block of ten: 40% point, 40% hot, 20% agg
#: (half tag group-by, half `group by interval`)
DASHBOARD_BLOCK = ["point"] * 4 + ["hot"] * 4 + ["tag", "temporal"]
#: seconds of untimed dashboard_reads load before its window
DASHBOARD_WARM_S = 5.0
#: ingest_live's reader mix per block of ten: 90% point, 10% rollup-routed
INGEST_READ_BLOCK = ["point"] * 9 + ["rollup"]
#: live-insert index of ingest_live's untimed warm-up insert: the last one
#: gen.live_bit places inside the write window, far from the writers' 2k + w
WARM_BIT = 99_999


# ------------------------------------------------------------------ wire helpers
def http_call(port: int, method: str, path: str, body: dict | None = None,
              timeout: float = 30.0) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        payload = json.dumps(body).encode() if body is not None else None
        conn.request(method, path, body=payload,
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"{}")
    finally:
        conn.close()


def proto_rows(records: list[dict]) -> list[dict]:
    """gRPC Bit records -> flat row dicts (proto3 omits zero defaults)."""
    from nsdb_spark.grpc.proto import proto_value

    out = []
    for rec in records:
        row = {"timestamp": rec.get("timestamp", 0)}
        row["value"] = rec.get("decimalValue", rec.get("longValue", 0))
        for part in ("dimensions", "tags"):
            for k, v in (rec.get(part) or {}).items():
                row[k] = proto_value(v)
        out.append(row)
    return out


class Recorder:
    """Thread-safe list of timed operations plus the sampled responses. An
    operation is (class, start, latency ms, ok, statement or None)."""

    def __init__(self) -> None:
        self.ops: list[tuple] = []
        self.samples: list[tuple[dict, list[dict]]] = []
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def add(self, cls: str, t0: float, ms: float, ok: bool, err: str | None = None,
            sql: str | None = None) -> None:
        with self._lock:
            self.ops.append((cls, t0, ms, ok, sql))
            if err is not None and len(self.errors) < 20:
                self.errors.append(f"{cls}: {err}")

    def sample(self, stmt: dict, rows: list[dict]) -> None:
        with self._lock:
            self.samples.append((stmt, rows))


# ------------------------------------------------------------- dashboard_reads
def dashboard_reads(grpc_port: int, seed: int, seconds: float, clients: int,
                    sample_p: float, rec: Recorder, on_start=None) -> float:
    """Closed loop of `clients` gRPC clients (one connection each) over a
    seeded 40% point / 40% hot / 20% agg mix (DASHBOARD_BLOCK). The hot
    pool is executed once up front so its statements sit in the engine's
    caches, then the mix runs untimed for DASHBOARD_WARM_S so JIT and
    codegen settle before the window opens; `on_start()`, if given, runs
    as it opens. Returns the warm-up seconds."""
    from nsdb_spark.grpc import NsdbGrpcClient

    pool = gen.hot_pool(seed)
    weights = gen.zipf_weights(len(pool))
    conns = [NsdbGrpcClient("127.0.0.1", grpc_port) for _ in range(clients)]

    def client(i: int, stream: int, deadline: float, rec: Recorder) -> None:
        rng = np.random.default_rng([seed, stream, i])
        c = conns[i]
        for kind in gen.mix(rng, DASHBOARD_BLOCK):
            if time.perf_counter() >= deadline:
                break
            if kind == "point":
                cls, stmt = "point", gen.point_statement(rng)
            elif kind == "hot":
                cls, stmt = "hot", pool[int(rng.choice(len(pool), p=weights))]
            else:
                cls, stmt = "agg", gen.agg_statement(rng, kind)
            keep = rng.random() < sample_p
            t0 = time.perf_counter()
            try:
                resp = c.execute_sql(DB, NS, stmt["sql"])
            except Exception as e:  # a failed RPC counts as a failed op
                rec.add(cls, t0, (time.perf_counter() - t0) * 1000, False, repr(e))
                continue
            ms = (time.perf_counter() - t0) * 1000
            ok = bool(resp.get("completedSuccessfully"))
            rec.add(cls, t0, ms, ok, None if ok else str(resp)[:300], stmt["sql"])
            if ok and keep:
                rec.sample(stmt, proto_rows(resp.get("records", [])))

    def load(stream: int, seconds: float, rec: Recorder) -> None:
        deadline = time.perf_counter() + seconds
        _run_threads([lambda i=i: client(i, stream, deadline, rec) for i in range(clients)])

    try:
        warm = [[s for j, s in enumerate(pool) if j % clients == i] for i in range(clients)]
        t0 = time.perf_counter()
        _run_threads([lambda c=c, w=w: [c.execute_sql(DB, NS, s["sql"]) for s in w]
                      for c, w in zip(conns, warm)])
        load(11, DASHBOARD_WARM_S, Recorder())
        warm_s = time.perf_counter() - t0
        if on_start is not None:
            on_start()
        load(10, seconds, rec)
        return warm_s
    finally:
        for c in conns:
            c.close()


def _run_threads(fns) -> None:
    errs: list[BaseException] = []

    def guard(fn):
        try:
            fn()
        except BaseException as e:  # surfaced after join
            errs.append(e)

    ts = [threading.Thread(target=guard, args=(fn,), daemon=True) for fn in fns]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=170)
    if any(t.is_alive() for t in ts):
        raise RuntimeError("load thread did not finish")
    if errs:
        raise errs[0]


# ----------------------------------------------------------------- ingest_live
class Ingest:
    """2 writers (POST /data): one closed loop, so a write is always
    running, and one open loop, one insert due every `period` seconds;
    1 closed-loop reader (POST /query: 90% historical point reads, 10%
    rollup-routed temporal aggregates) and 1 long-polling subscriber on
    the live tag."""

    SUB_SQL = f"select * from events where event_type = {gen.LIVE_TAG}"

    def __init__(self, http_port: int, seed: int, period: float, sample_p: float,
                 rec: Recorder) -> None:
        self.port, self.seed, self.period, self.sample_p = http_port, seed, period, sample_p
        self.rec = rec
        self.acked: dict[int, dict] = {}     # event id -> bit
        self.due: dict[int, float] = {}      # event id -> due time
        self.pushed: dict[int, float] = {}   # event id -> first receive time
        self.late_ms: list[float] = []
        self._lock = threading.Lock()
        status, body = http_call(http_port, "POST", "/subscribe", {
            "db": DB, "namespace": NS, "queryString": self.SUB_SQL})
        if status != 200:
            raise RuntimeError(f"subscribe failed: {status} {body}")
        self.uuid = body["uuid"]

    def writer(self, w: int, t_start: float, seconds: float, period: float | None) -> None:
        """Writer w sends the live inserts 2k + w. With a period, the k-th
        is due at t_start + (k + 1/2) * period (open loop); without one,
        each is due as the previous one is acknowledged (closed loop)."""
        rng = np.random.default_rng([self.seed, 20, w])
        free_at = t_start
        for k in itertools.count():
            due = time.perf_counter() if period is None else t_start + (k + 0.5) * period
            if due >= t_start + seconds:
                return
            bit = gen.live_bit(2 * k + w, rng)
            now = time.perf_counter()
            if due > now:
                time.sleep(due - now)
            sent = time.perf_counter()
            if period is not None:
                # generator lateness: how far past max(due, previous reply)
                # the thread actually sent; waiting on the previous reply is
                # the system's backlog and stays inside the write latency
                self.late_ms.append(max(sent - max(due, free_at), 0.0) * 1000)
            with self._lock:
                self.due[bit["dimensions"]["event_id"]] = due
            ok, err = self.insert(bit)
            done = time.perf_counter()
            free_at = done
            self.rec.add("write", due, (done - due) * 1000, ok, err)
            self.rec.add("write_rtt", sent, (done - sent) * 1000, ok)

    def insert(self, bit: dict) -> tuple[bool, str | None]:
        """POST one live insert; an acknowledged one is kept for the
        checks. Returns (ok, error)."""
        try:
            status, body = http_call(self.port, "POST", "/data", {
                "db": DB, "namespace": NS, "metric": "events", "bit": bit})
        except OSError as e:
            return False, repr(e)
        if status != 200:
            return False, str(body)[:300]
        with self._lock:
            self.acked[bit["dimensions"]["event_id"]] = bit
        return True, None

    def reader(self, deadline: float) -> None:
        rng = np.random.default_rng([self.seed, 30])
        rollups = itertools.cycle(gen.ROLLUP_STATEMENTS)
        for kind in gen.mix(rng, INGEST_READ_BLOCK):
            if time.perf_counter() >= deadline:
                break
            if kind == "point":
                cls, stmt = "point", gen.point_statement(rng)
            else:
                cls, stmt = "agg", {"kind": "rollup", "sql": next(rollups)}
            keep = cls == "point" and rng.random() < self.sample_p
            t0 = time.perf_counter()
            try:
                status, body = http_call(self.port, "POST", "/query", {
                    "db": DB, "namespace": NS, "metric": "events",
                    "queryString": stmt["sql"]})
                ok, err = status == 200, None if status == 200 else str(body)[:300]
            except OSError as e:
                ok, err, body = False, repr(e), {}
            self.rec.add(cls, t0, (time.perf_counter() - t0) * 1000, ok, err)
            if ok and keep:
                self.rec.sample(stmt, body.get("records", []))

    def subscriber(self) -> None:
        while not self._stop_sub.is_set():
            try:
                status, body = http_call(self.port, "GET",
                                         f"/poll/{self.uuid}?timeout_ms=200")
            except OSError:
                continue
            now = time.perf_counter()
            if status != 200:
                continue
            with self._lock:
                for batch in body.get("batches", []):
                    for row in batch:
                        eid = row.get("event_id")
                        if eid is not None and eid not in self.pushed:
                            self.pushed[eid] = now

    def run(self, seconds: float, drain_s: float = 5.0, on_start=None) -> None:
        """Send one untimed insert, so the write path has run once before
        timing starts, then run the window (`on_start()`, if given, runs
        as it opens); afterwards wait up to drain_s for the pushes of
        every acknowledged insert."""
        self._stop_sub = threading.Event()
        sub = threading.Thread(target=self.subscriber, daemon=True)
        sub.start()
        ok, err = self.insert(gen.live_bit(WARM_BIT, np.random.default_rng([self.seed, 21])))
        if not ok:
            raise RuntimeError(f"warm-up insert failed: {err}")
        if on_start is not None:
            on_start()
        t0 = time.perf_counter()
        try:
            _run_threads(
                [lambda: self.writer(0, t0, seconds, None),
                 lambda: self.writer(1, t0, seconds, self.period),
                 lambda: self.reader(t0 + seconds)]
            )
            end = time.perf_counter() + drain_s
            while time.perf_counter() < end:
                with self._lock:
                    if all(e in self.pushed for e in self.acked):
                        break
                time.sleep(0.05)
        finally:
            self._stop_sub.set()
            sub.join(timeout=5)

    def push_ms(self) -> list[float]:
        """Due time to first receipt, per timed insert received."""
        with self._lock:
            return [(self.pushed[e] - self.due[e]) * 1000
                    for e in self.due if e in self.pushed]
