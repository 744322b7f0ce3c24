"""HTTP REST layer over the engine — stdlib http.server only (this
container has no web framework; the surface mirrors the reference's routes).

Route parity (nsdb-http/.../routes/):
- POST /query     {db, namespace, metric, queryString, from?, to?,
                   filters?: [{dimension, value, operator}]}
                  → {"records": [...]}            (QueryApi.scala:138-186)
- POST /data      {db, namespace, metric,
                   bit: {timestamp, value, dimensions, tags}} → "OK"
                  (DataApi.scala:75-96)
- GET  /commands/dbs                               → {"dbs": [...]}
- GET  /commands/<db>/namespaces                   → {"namespaces": [...]}
- GET  /commands/<db>/<ns>/metrics                 → {"metrics": [...]}
- GET  /commands/<db>/<ns>/<metric>/describe       → {"fields": [...]}
- GET  /commands/topology                          → {"nodes": [...], ...}
- GET  /locations/<db>/<ns>/<metric>               → {"locations": [...]}
                  (CommandApi.scala:152-264)
- GET  /ws-stream?refresh_period=N&retention_size=M
                  → RFC 6455 upgrade; RegisterQuery JSON in, historical +
                  live pushes out (nsdb_spark/ws.py; wire parity with
                  WsResources.scala:45-160 / docs/Websocket.md)
- POST /subscribe {db, namespace, queryString}     → {"uuid", "historical"}
- GET  /poll/<uuid>?timeout_ms=N                   → {"batches": [[...], ...]}
- DELETE /subscribe/<uuid>                         → {"status": "OK"}
                  (long-poll fallback over the same SubscriptionManager:
                  historical payload on subscribe, then drained pushes
                  per poll)

Authorization: pass serve(auth=NSDbAuthorizationProvider()) to gate every
data route through the db/namespace/metric check hooks (403 on failure) —
the reference's pluggable security seam (NSDbAuthorizationProvider.java).

Concurrency: ThreadingHTTPServer — each request runs the engine on the
shared SparkSession (Spark sessions are thread-safe; jobs from concurrent
requests interleave in the FAIR/FIFO scheduler), matching the reference's
100-concurrent-users Gatling scenario shape.
"""
from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .engine import NsdbEngine
from .model import Bit
# perfbench traces long-poll pushes under this name
from .streaming.subscribe import SubscriptionChannel as _SubscriptionChannel


class _Handler(BaseHTTPRequestHandler):
    engine: NsdbEngine        # injected by serve()
    subs = None               # SubscriptionManager | None
    channels: dict = {}       # uuid → _SubscriptionChannel
    auth = None               # NSDbAuthorizationProvider | None
    ws_retention_size = 1000  # nsdb.websocket.retention-size analogue

    def _authorized(self, level: str, write: bool, db: str, ns: str = "", metric: str = "") -> bool:
        """Run the configured authorization hook for a route; on failure
        answers 403 and returns False (default-allow when no provider —
        the reference's EmptyNSDbAuthorizationProvider)."""
        if self.auth is None:
            return True
        payload = self.auth.extract_http_security_payload(dict(self.headers))
        if level == "db":
            res = self.auth.check_db_auth(db, payload, write)
        elif level == "namespace":
            res = self.auth.check_namespace_auth(db, ns, payload, write)
        else:
            res = self.auth.check_metric_auth(db, ns, metric, payload, write)
        if not res.success:
            self._send(403, {"error": f"unauthorized {res.fail_reason}".strip()})
        return res.success

    @staticmethod
    def _stmt_metric(b: dict) -> str:
        """Metric the queryString actually executes against; falls back
        to the body's metric field when the statement doesn't parse (the
        request then 400s downstream anyway)."""
        try:
            from .sql.parser import parse as _parse

            return _parse(b.get("queryString", "")).metric
        except Exception:
            return b.get("metric", "")

    def _query(self, b: dict, metric: str) -> None:
        """/query (POST and GET): the metric-level read gate on `metric`,
        then the enriched execution (from/to/filters) and its 200 answer."""
        db, ns = b.get("db", "default"), b.get("namespace", "default")
        if not self._authorized("metric", False, db, ns, metric):
            return
        filters = [
            (f["dimension"], f["value"], f["operator"])
            for f in b.get("filters") or []
        ]
        records = self.engine.query_records(
            b["queryString"], db=db, ns=ns,
            from_ts=b.get("from"), to_ts=b.get("to"), filters=filters,
        )
        self._send(200, {"records": records})

    # ------------------------------------------------------------ helpers
    def _send(self, code: int, payload) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length", 0))
        return json.loads(self.rfile.read(n) or b"{}")

    def log_message(self, *args) -> None:  # quiet test output
        pass

    # ------------------------------------------------------------ routes
    def do_POST(self) -> None:
        try:
            if self.path == "/query/validate":
                # QueryValidationApi.scala:75-103: 200 valid / 400 invalid;
                # authorization-gated like every metric route (the
                # reference wraps it in withMetricAuthorization,
                # QueryValidationApi.scala:79-83) — without it the error
                # payloads let an unauthorized client enumerate metrics
                # and probe field names. Gated on the statement-parsed
                # metric, the repo-wide rule.
                b = self._body()
                if not self._authorized(
                    "metric", False, b.get("db", "default"),
                    b.get("namespace", "default"), self._stmt_metric(b),
                ):
                    return
                from . import analyzer
                from .sql import ast as _ast
                from .sql.parser import parse as _parse

                try:
                    stmt = _parse(
                        b["queryString"],
                        db=b.get("db", "default"),
                        namespace=b.get("namespace", "default"),
                    )
                    if isinstance(stmt, _ast.SelectSQLStatement):
                        schema = self.engine.warehouse.get_schema(
                            b.get("db", "default"),
                            b.get("namespace", "default"),
                            stmt.metric,
                        )
                        analyzer.analyze(stmt, schema)
                    self._send(200, {"valid": True})
                except Exception as e:
                    self._send(
                        400,
                        {
                            "valid": False,
                            "error": f"statement {b.get('queryString')} is invalid: "
                            f"{type(e).__name__}: {e}",
                        },
                    )
            elif self.path == "/query":
                # authorize the metric the statement EXECUTES against
                # (parsed from queryString) — the body's `metric` field
                # is client-supplied context, not what runs
                b = self._body()
                self._query(b, self._stmt_metric(b))
            elif self.path == "/data":
                b = self._body()
                if not self._authorized(
                    "metric", True, b.get("db", "default"),
                    b.get("namespace", "default"), b.get("metric", ""),
                ):
                    return
                bit = b["bit"]
                ts = bit.get("timestamp")
                db = b.get("db", "default")
                ns = b.get("namespace", "default")
                the_bit = Bit(
                    ts if ts is not None else self.engine.now_fn(),
                    bit["value"],
                    dict(bit.get("dimensions") or {}),
                    dict(bit.get("tags") or {}),
                )
                n = self.engine.insert_bits(db, ns, b["metric"], [the_bit])
                if self.subs is not None:
                    row = {"timestamp": the_bit.timestamp, "value": the_bit.value}
                    row.update(the_bit.dimensions)
                    row.update(the_bit.tags)
                    self.subs.publish(db, ns, b["metric"], [row])
                self._send(200, {"status": "OK", "inserted": n})
            elif self.path == "/subscribe":
                if self.subs is None:
                    self._send(400, {"error": "no subscription manager attached"})
                    return
                b = self._body()
                if not self._authorized(
                    "metric", False, b.get("db", "default"),
                    b.get("namespace", "default"), self._stmt_metric(b),
                ):
                    return
                ch = _SubscriptionChannel()
                first: list = []

                def cb(records, _ch=ch, _first=first):
                    # first callback = historical payload (synchronous,
                    # PublisherActor.scala:136-204); later ones = live pushes
                    if not _first:
                        _first.append(records)
                    else:
                        _ch.push(records)

                uuid = self.subs.subscribe(
                    b["queryString"],
                    cb,
                    db=b.get("db", "default"),
                    ns=b.get("namespace", "default"),
                )
                self.channels[uuid] = ch
                self._send(200, {"uuid": uuid, "historical": first[0] if first else []})
            else:
                self._send(404, {"error": f"unknown path {self.path}"})
        except Exception as e:  # parse/validation/schema errors → 400
            self._send(400, {"error": f"{type(e).__name__}: {e}"})


    def _sub_authorized(self, uuid: str) -> bool:
        """/poll and DELETE /subscribe act on an EXISTING subscription:
        gate them on that subscription's own (db, ns, metric) — without
        this, any client that learns a uuid can drain another
        subscriber's pushes or tear the subscription down while every
        other data route runs the 403 hook. Unknown uuids pass through
        (the handler 404s them with no information leak beyond what the
        404 already says)."""
        sub = self.subs.subs.get(uuid) if self.subs is not None else None
        if sub is None:
            return True
        return self._authorized("metric", False, sub.db, sub.ns, sub.metric)

    def do_DELETE(self) -> None:
        try:
            parts = [p for p in self.path.split("/") if p]
            if len(parts) == 2 and parts[0] == "subscribe" and self.subs is not None:
                uuid = parts[1]
                if self.subs.subs.get(uuid) is None:
                    # unknown uuid → 404 (the _sub_authorized contract);
                    # answering OK would make a failed teardown look
                    # indistinguishable from a successful one
                    self._send(404, {"error": f"unknown subscription {uuid}"})
                    return
                if not self._sub_authorized(uuid):
                    return
                self.subs.unsubscribe(uuid)
                self.channels.pop(uuid, None)
                self._send(200, {"status": "OK"})
            else:
                self._send(404, {"error": f"unknown path {self.path}"})
        except Exception as e:  # auth/teardown errors → clean 400, not a dropped conn
            self._send(400, {"error": f"{type(e).__name__}: {e}"})

    def _ws_upgrade(self) -> None:
        """GET /ws-stream?refresh_period=N&retention_size=M → RFC 6455
        upgrade; the session then speaks the RegisterQuery protocol
        (WsResources.scala:137-160, docs/Websocket.md)."""
        from .ws import WsSession, accept_key

        if self.subs is None:
            self._send(400, {"error": "no subscription manager attached"})
            return
        params = {}
        if "?" in self.path:
            for kv in self.path.split("?", 1)[1].split("&"):
                if "=" in kv:
                    k, v = kv.split("=", 1)
                    params[k] = v
        floor = self.subs.refresh_period_ms
        period = int(params.get("refresh_period", floor))
        retention = int(params.get("retention_size", self.ws_retention_size))
        if period < floor:
            # rejected BEFORE the upgrade, WsResources.scala:157-160
            self._send(
                400,
                {"error": f"publish period of {period} milliseconds cannot be "
                          f"used, must be greater or equal to {floor}"},
            )
            return
        key = self.headers.get("Sec-WebSocket-Key")
        if (
            key is None
            or "websocket" not in (self.headers.get("Upgrade") or "").lower()
        ):
            self._send(400, {"error": "not a websocket upgrade request"})
            return
        protos = [
            p.strip()
            for p in (self.headers.get("Sec-WebSocket-Protocol") or "").split(",")
            if p.strip()
        ]
        self.send_response(101, "Switching Protocols")
        self.send_header("Upgrade", "websocket")
        self.send_header("Connection", "Upgrade")
        self.send_header("Sec-WebSocket-Accept", accept_key(key))
        if protos:
            self.send_header("Sec-WebSocket-Protocol", protos[0])
        self.end_headers()
        self.wfile.flush()
        WsSession(
            self.connection, self.rfile, self.engine, self.subs,
            refresh_period_ms=period, retention_size=retention,
            subprotocols=protos, auth=self.auth,
        ).run()
        self.close_connection = True

    def do_GET(self) -> None:
        try:
            if self.path.split("?")[0] == "/ws-stream":
                self._ws_upgrade()
                return
            if self.path.split("?")[0] == "/query":
                # QueryApi.scala:140-163: GET variant of /query — same
                # enriched execution but SELECT-only (a DELETE through
                # GET answers 405 MethodNotAllowed, unlike POST)
                b = self._body()
                from .sql import ast as _ast
                from .sql.parser import parse as _parse

                stmt = _parse(
                    b["queryString"],
                    db=b.get("db", "default"),
                    namespace=b.get("namespace", "default"),
                )
                if not isinstance(stmt, _ast.SelectSQLStatement):
                    self._send(
                        405,
                        {"error": f"statement {b['queryString']} is not a select statement"},
                    )
                    return
                # same handler and auth gate as POST /query — the GET
                # variant must not be a side door around the metric-level
                # check; the gate uses the PARSED statement's metric
                self._query(b, stmt.metric)
                return
            parts = [p.split("?")[0] for p in self.path.split("/") if p]
            if len(parts) == 2 and parts[0] == "poll":
                if not self._sub_authorized(parts[1]):
                    return
                ch = self.channels.get(parts[1])
                if ch is None:
                    self._send(404, {"error": f"unknown subscription {parts[1]}"})
                    return
                timeout_ms = 5000
                if "?" in self.path and "timeout_ms=" in self.path:
                    timeout_ms = int(self.path.split("timeout_ms=")[1].split("&")[0])
                self._send(200, {"batches": ch.drain(timeout_ms / 1000.0)})
                return
            wh = self.engine.warehouse
            if parts == ["commands", "topology"]:
                # CommandApi.scala:82 (show topology) → TopologyGot
                # (MessageProtocol.scala:244): a set of NSDbNode
                # {nodeAddress, nodeFsId, volatileNodeUuid}
                # (NSDbNode.scala:26). The Spark analogue of the
                # Akka-cluster member set is the executor set of the
                # session this server fronts: nodeAddress = host:port,
                # nodeFsId = the stable warehouse-filesystem identity
                # that executor serves (shared-dir deployment ⇒ same id,
                # exactly how the reference ties locations to a node's
                # volume), volatileNodeUuid = per-app-run identity (dies
                # with the process, like the reference's restart uuid).
                import hashlib as _hl

                sc = self.engine.spark.sparkContext
                fs_id = _hl.md5(
                    str(self.engine.warehouse.root).encode()
                ).hexdigest()[:12]
                try:
                    infos = sc._jsc.sc().statusTracker().getExecutorInfos()
                    nodes = [
                        {
                            "nodeAddress": f"{e.host()}:{e.port()}",
                            "nodeFsId": fs_id,
                            "volatileNodeUuid":
                                f"{sc.applicationId}-{e.host()}-{e.port()}",
                        }
                        for e in infos
                    ]
                except Exception:  # status tracker shape varies by master
                    nodes = [{
                        "nodeAddress": "driver:0",
                        "nodeFsId": fs_id,
                        "volatileNodeUuid": f"{sc.applicationId}-driver",
                    }]
                self._send(
                    200,
                    {
                        "nodes": nodes,
                        "applicationId": sc.applicationId,
                        "master": sc.master,
                        "defaultParallelism": sc.defaultParallelism,
                    },
                )
            elif len(parts) == 4 and parts[0] == "locations":
                # CommandApi.scala:117 (/locations/<db>/<ns>/<metric>):
                # the metric's shard partitions with physical stats
                if not self._authorized("metric", False, parts[1], parts[2], parts[3]):
                    return
                stats = wh.shard_stats(parts[1], parts[2], parts[3])
                self._send(
                    200,
                    {
                        "locations": [
                            {"metric": parts[3], **s} for s in stats
                        ]
                    },
                )
            elif parts == ["commands", "dbs"]:
                self._send(200, {"dbs": wh.databases()})
            elif len(parts) == 3 and parts[0] == "commands" and parts[2] == "namespaces":
                if not self._authorized("db", False, parts[1]):
                    return
                self._send(200, {"namespaces": wh.namespaces(parts[1])})
            elif len(parts) == 4 and parts[0] == "commands" and parts[3] == "metrics":
                if not self._authorized("namespace", False, parts[1], parts[2]):
                    return
                self._send(200, {"metrics": wh.metrics(parts[1], parts[2])})
            elif len(parts) == 5 and parts[0] == "commands" and parts[4] == "describe":
                if not self._authorized("metric", False, parts[1], parts[2], parts[3]):
                    return
                out = self.engine.execute(
                    f"describe {parts[3]}", db=parts[1], ns=parts[2]
                )
                self._send(
                    200,
                    {
                        "fields": [
                            {"name": n, "type": t, "fieldClass": fc}
                            for n, t, fc in out
                        ]
                    },
                )
            else:
                self._send(404, {"error": f"unknown path {self.path}"})
        except Exception as e:
            self._send(400, {"error": f"{type(e).__name__}: {e}"})


def serve(
    engine: NsdbEngine,
    host: str = "127.0.0.1",
    port: int = 0,
    subscription_manager=None,
    auth=None,
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the API server on a daemon thread; returns (server, thread).
    port=0 binds an ephemeral port (server.server_address[1]).
    Pass a SubscriptionManager to enable /subscribe + /poll and the
    /ws-stream WebSocket endpoint (inserts via /data are published to it
    — the real-time push tap). Pass an NSDbAuthorizationProvider to gate
    routes (403 on failure); default is allow-all."""
    handler = type(
        "BoundHandler",
        (_Handler,),
        {"engine": engine, "subs": subscription_manager, "channels": {}, "auth": auth},
    )
    srv = ThreadingHTTPServer((host, port), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    if subscription_manager is not None:
        # standard-agg re-pushes and temporal bucket closes need a live
        # clock (nsdb.conf:140's 5 s publisher scheduler) — without it a
        # subscriber only ever sees the historical payload
        subscription_manager.start_scheduler()
    return srv, t
