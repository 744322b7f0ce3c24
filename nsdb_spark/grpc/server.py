"""gRPC wire server for the NSDb service surface — stdlib-only.

Serves the reference's six services over real HTTP/2 + HPACK + protobuf
wire format (no grpcio in this container; the transport lives in
`http2.py`/`hpack.py`, the codec in `proto.py`):

- NSDBServiceSQL/InsertBit, /executeSQLStatement
  (reference nsdb-rpc/src/main/protobuf/service.proto:29-33,
   semantics per GrpcEndpointServiceSQL.scala:52-250)
- NSDBServiceCommand/showNamespaces, /showMetrics, /describeMetric
  (service.proto:36-40, GrpcEndpointServiceCommand.scala)
- Health/Check → SERVING (GrpcEndpoint.scala:110-113)
- InitMetric/InitMetric — duration strings like "1d"
  (GrpcEndpoint.scala:140-168)
- Restore/Restore → engine.restore_metric_bundle
  (GrpcEndpoint.scala:115-135)
- NSDbStreaming/streamSQL — server-streaming subscribe:
  SubscribedByQueryString(quid, historical) first, then
  RecordsPublished per matching write (streaming.proto:53-55,
  GrpcNSDbStreaming.scala + StreamActor.scala)

gRPC message framing: 1-byte compressed flag (always 0 — identity) +
4-byte big-endian length + the proto bytes. Unary responses are
HEADERS(:status 200, content-type application/grpc) + DATA + trailers
HEADERS(grpc-status/grpc-message, END_STREAM); immediate failures use
the trailers-only form. Authorization mirrors GrpcAuthInterceptor.scala:
empty security payload → UNAUTHENTICATED(16), provider denial →
PERMISSION_DENIED(7); like the HTTP server, auth=None skips the checks.

Concurrency: one reader thread per connection; each complete request
stream is dispatched to a worker thread; writes are serialized inside
Http2Connection. streamSQL holds its stream open until the client sends
RST_STREAM or the connection dies, then unsubscribes.
"""
from __future__ import annotations

import socket
import struct
import threading

from . import proto
from .hpack import HpackError
from .http2 import (
    ConnectionClosed,
    ERR_COMPRESSION,
    Http2Connection,
    PREFACE,
    Stream,
    UnsupportedCompression,
)

GRPC_OK = 0
GRPC_UNKNOWN = 2
GRPC_INVALID_ARGUMENT = 3
GRPC_NOT_FOUND = 5
GRPC_PERMISSION_DENIED = 7
GRPC_UNIMPLEMENTED = 12
GRPC_INTERNAL = 13
GRPC_UNAUTHENTICATED = 16

_DURATION_UNITS = {
    "d": 86_400_000, "day": 86_400_000, "days": 86_400_000,
    "h": 3_600_000, "hour": 3_600_000, "hours": 3_600_000,
    "min": 60_000, "minute": 60_000, "minutes": 60_000,
    "s": 1_000, "sec": 1_000, "second": 1_000, "seconds": 1_000,
    "ms": 1, "milli": 1, "millis": 1, "millisecond": 1, "milliseconds": 1,
}


def parse_duration_ms(text: str) -> int:
    """Scala-`Duration(...)`-shaped strings: '1d', '30 minutes', '500ms'."""
    t = text.strip().lower()
    i = 0
    while i < len(t) and (t[i].isdigit() or t[i] == "."):
        i += 1
    num, unit = t[:i].strip(), t[i:].strip()
    if not num or unit not in _DURATION_UNITS:
        raise ValueError(f"cannot parse duration {text!r}")
    return int(float(num) * _DURATION_UNITS[unit])


class _GrpcStatus(Exception):
    def __init__(self, code: int, message: str):
        super().__init__(message)
        self.code = code
        self.message = message


class NsdbGrpcServer:
    """`serve_grpc(engine, port=7817)` → NsdbGrpcServer (call .stop())."""

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 7817, auth=None,
                 subscriptions=None):
        from ..streaming.subscribe import SubscriptionManager

        self.engine = engine
        self.auth = auth
        self.subs = subscriptions or SubscriptionManager(engine)
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind((host, port))
        self.sock.listen(16)
        self.host, self.port = self.sock.getsockname()
        self._stop = threading.Event()
        self._conns: list[Http2Connection] = []
        self._thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._thread.start()
        self._unary = {
            "/io.radicalbit.nsdb.rpc.NSDBServiceSQL/InsertBit": (
                proto.RPC_INSERT, proto.RPC_INSERT_RESULT, self._insert_bit, "metric_write"),
            "/io.radicalbit.nsdb.rpc.NSDBServiceSQL/executeSQLStatement": (
                proto.SQL_REQUEST_STATEMENT, proto.SQL_STATEMENT_RESPONSE,
                self._execute_sql, "metric_read"),
            "/io.radicalbit.nsdb.rpc.NSDBServiceCommand/showNamespaces": (
                proto.SHOW_NAMESPACES, proto.NAMESPACES, self._show_namespaces, "db_read"),
            "/io.radicalbit.nsdb.rpc.NSDBServiceCommand/showMetrics": (
                proto.SHOW_METRICS, proto.METRICS_GOT, self._show_metrics, "namespace_read"),
            "/io.radicalbit.nsdb.rpc.NSDBServiceCommand/describeMetric": (
                proto.DESCRIBE_METRIC, proto.DESCRIBE_METRIC_RESPONSE,
                self._describe_metric, "metric_read"),
            "/io.radicalbit.nsdb.rpc.Health/Check": (
                proto.HEALTH_CHECK_REQUEST, proto.HEALTH_CHECK_RESPONSE, self._health, None),
            "/io.radicalbit.nsdb.rpc.InitMetric/InitMetric": (
                proto.INIT_METRIC_REQUEST, proto.INIT_METRIC_RESPONSE,
                self._init_metric, "metric_write"),
            "/io.radicalbit.nsdb.rpc.Restore/Restore": (
                proto.RESTORE_REQUEST, proto.RESTORE_RESPONSE, self._restore, None),
        }

    # --------------------------------------------------------- connection
    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                client, _ = self.sock.accept()
            except OSError:
                return
            threading.Thread(target=self._serve_conn, args=(client,), daemon=True).start()

    def _serve_conn(self, sock: socket.socket) -> None:
        conn = Http2Connection(sock, is_server=True)
        self._conns.append(conn)
        try:
            preface = conn._read_exact(len(PREFACE))
            if preface != PREFACE:
                conn.close()
                return
            conn.send_settings({})
            while True:
                ftype, flags, sid, payload = conn.read_frame()
                try:
                    conn.handle_frame(
                        ftype, flags, sid, payload,
                        lambda st, h, end, trailers: (
                            None if trailers else self._on_headers(conn, st, end)
                        ),
                    )
                except HpackError:
                    conn.goaway(sid, ERR_COMPRESSION)
                    return
        except (ConnectionClosed, OSError):
            pass
        finally:
            conn.close()
            try:
                self._conns.remove(conn)
            except ValueError:
                pass

    def _on_headers(self, conn: Http2Connection, stream: Stream, end: bool) -> None:
        threading.Thread(
            target=self._dispatch, args=(conn, stream), daemon=True
        ).start()

    # ----------------------------------------------------------- dispatch
    def _dispatch(self, conn: Http2Connection, stream: Stream) -> None:
        headers = dict(stream.headers)
        path = headers.get(":path", "")
        try:
            if path == "/io.radicalbit.nsdb.rpc.NSDbStreaming/streamSQL":
                self._stream_sql(conn, stream, headers)
                return
            entry = self._unary.get(path)
            if entry is None:
                raise _GrpcStatus(GRPC_UNIMPLEMENTED, f"unknown method {path}")
            req_desc, resp_desc, handler, auth_level = entry
            raw = stream.read_message(timeout=30.0)
            if raw is None:
                raise _GrpcStatus(GRPC_INTERNAL, "missing request message")
            try:
                request = proto.decode(req_desc, raw)
            except ValueError as ex:  # malformed wire bytes, not engine
                raise _GrpcStatus(
                    GRPC_INVALID_ARGUMENT, f"malformed request: {ex}"
                )
            self._check_auth(headers, request, auth_level)
            response = handler(request)
            body = proto.encode(resp_desc, response)
            conn.send_headers(stream.sid, [(":status", "200"), ("content-type", "application/grpc")])
            conn.send_data(stream.sid, b"\x00" + struct.pack(">I", len(body)) + body)
            conn.send_headers(stream.sid, [("grpc-status", "0")], end_stream=True)
        except _GrpcStatus as st:
            self._trailers_only(conn, stream.sid, st.code, st.message)
        except UnsupportedCompression as ex:
            self._trailers_only(conn, stream.sid, GRPC_UNIMPLEMENTED, str(ex))
        except (ConnectionClosed, OSError):
            pass
        except Exception as ex:  # engine errors → gRPC UNKNOWN
            self._trailers_only(conn, stream.sid, GRPC_UNKNOWN, str(ex))
        finally:
            conn.release_stream(stream.sid)

    @staticmethod
    def _grpc_message(message: str) -> str:
        """Percent-encode per the gRPC spec (grpc-message is
        percent-encoded UTF-8): bytes outside printable ASCII — and '%'
        itself — become %XX. An engine exception carrying non-latin-1
        text previously blew up inside the HPACK encoder, so no trailers
        were sent and the client stalled to its timeout."""
        raw = message.replace("\n", " ")[:512].encode("utf-8")
        out = []
        for b in raw:
            if 0x20 <= b <= 0x7E and b != 0x25:  # printable, not '%'
                out.append(chr(b))
            else:
                out.append(f"%{b:02X}")
        return "".join(out)

    def _trailers_only(self, conn: Http2Connection, sid: int, code: int, message: str) -> None:
        try:
            conn.send_headers(
                sid,
                [
                    (":status", "200"),
                    ("content-type", "application/grpc"),
                    ("grpc-status", str(code)),
                    ("grpc-message", self._grpc_message(message)),
                ],
                end_stream=True,
            )
        except (ConnectionClosed, OSError):
            pass

    def _check_auth(self, headers: dict, request: dict, level: str | None) -> None:
        """GrpcAuthInterceptor.scala parity: empty payload →
        UNAUTHENTICATED, provider denial → PERMISSION_DENIED."""
        if self.auth is None or level is None:
            return
        payload = ""
        hdr = getattr(self.auth, "grpc_security_header", "authorization").lower()
        for k, v in headers.items():
            if k.lower() == hdr:
                payload = v
        if not payload.strip():
            raise _GrpcStatus(GRPC_UNAUTHENTICATED, "an empty token has been provided")
        db = request.get("db", request.get("database", ""))
        ns = request.get("namespace", "")
        metric = request.get("metric", "")
        write = level.endswith("write")
        if level.startswith("db"):
            res = self.auth.check_db_auth(db, payload, write)
        elif level.startswith("namespace"):
            res = self.auth.check_namespace_auth(db, ns, payload, write)
        else:
            res = self.auth.check_metric_auth(db, ns, metric, payload, write)
        if not res.success:
            raise _GrpcStatus(GRPC_PERMISSION_DENIED, res.fail_reason)

    # ----------------------------------------------------- unary handlers
    def _insert_bit(self, req: dict) -> dict:
        from ..model import Bit

        try:
            if "decimalValue" in req:
                value = req["decimalValue"]
            elif "longValue" in req:
                value = req["longValue"]
            else:
                return {"completedSuccessfully": False, "errors": "value not set"}
            bit = Bit(
                req.get("timestamp", 0),
                value,
                {k: proto.proto_value(v) for k, v in req.get("dimensions", {}).items()},
                {k: proto.proto_value(v) for k, v in req.get("tags", {}).items()},
            )
            self.engine.insert_bits(
                req.get("database", "default"), req.get("namespace", "default"),
                req.get("metric", ""), [bit],
            )
            self.subs.publish(
                req.get("database", "default"), req.get("namespace", "default"),
                req.get("metric", ""), [bit.fields()],
            )
            return {"completedSuccessfully": True}
        except Exception as ex:
            return {"completedSuccessfully": False, "errors": str(ex)}

    def _execute_sql(self, req: dict) -> dict:
        from ..sql import ast
        from ..sql.errors import SQLParseError
        from ..sql.parser import parse

        db = req.get("db", "default")
        ns = req.get("namespace", "default")
        base = {"db": db, "namespace": ns}
        statement = req.get("statement", "")
        try:
            stmt = parse(statement, db=db, namespace=ns)
        except SQLParseError as ex:
            # parser failure shape: GrpcEndpointServiceSQL.scala:243-249
            return {**base, "completedSuccessfully": False,
                    "reason": "sql statement not valid", "message": str(ex)}
        try:
            metric = getattr(stmt, "metric", "")
            if isinstance(stmt, ast.SelectSQLStatement):
                schema = self.engine.warehouse.get_schema(db, ns, metric)
                rows = [r.asDict() for r in self.engine.collect_select(stmt)]
                records = [proto.bit_to_proto(r, schema) for r in rows]
                return {**base, "metric": metric, "completedSuccessfully": True,
                        "records": records}
            if isinstance(stmt, ast.InsertSQLStatement):
                self.engine.execute(statement, db=db, ns=ns)
                schema = self.engine.warehouse.get_schema(db, ns, metric)
                ts = stmt.timestamp if stmt.timestamp is not None else self.engine.now_fn()
                record = {"timestamp": ts, "value": stmt.value,
                          **stmt.dimensions, **stmt.tags}
                self.subs.publish(db, ns, metric, [record])
                return {**base, "metric": metric, "completedSuccessfully": True,
                        "records": [proto.bit_to_proto(record, schema)]}
            # DELETE / DROP: success with no records
            self.engine.execute(statement, db=db, ns=ns)
            return {**base, "metric": metric, "completedSuccessfully": True}
        except Exception as ex:
            return {**base, "completedSuccessfully": False, "reason": str(ex)}

    def _show_namespaces(self, req: dict) -> dict:
        db = req.get("db", "default")
        try:
            return {"db": db, "namespaces": self.engine.warehouse.namespaces(db),
                    "completedSuccessfully": True}
        except Exception as ex:
            return {"db": db, "completedSuccessfully": False, "errors": str(ex)}

    def _show_metrics(self, req: dict) -> dict:
        db, ns = req.get("db", "default"), req.get("namespace", "default")
        try:
            return {"db": db, "namespace": ns,
                    "metrics": self.engine.warehouse.metrics(db, ns),
                    "completedSuccessfully": True}
        except Exception as ex:
            return {"db": db, "namespace": ns, "completedSuccessfully": False,
                    "errors": str(ex)}

    def _describe_metric(self, req: dict) -> dict:
        db, ns = req.get("db", "default"), req.get("namespace", "default")
        metric = req.get("metric", "")
        base = {"db": db, "namespace": ns, "metric": metric}
        try:
            schema = self.engine.warehouse.get_schema(db, ns, metric)
            fields = [
                {"name": "timestamp", "fieldClassType": proto.FIELD_CLASS_TYPE["TIMESTAMP"],
                 "indexType": "BIGINT"},
                {"name": "value", "fieldClassType": proto.FIELD_CLASS_TYPE["VALUE"],
                 "indexType": schema.value_type.value},
            ]
            for name in sorted(schema.fields):
                f = schema.fields[name]
                fields.append({
                    "name": name,
                    "fieldClassType": proto.FIELD_CLASS_TYPE[f.field_class.value.upper()],
                    "indexType": f.nsdb_type.value,
                })
            info = self.engine.warehouse.get_info(db, ns, metric)
            return {**base, "fields": fields,
                    "metricInfo": {"shardInterval": info.get("shardInterval", 0),
                                   "retention": info.get("retention", 0)},
                    "completedSuccessfully": True}
        except Exception as ex:
            return {**base, "completedSuccessfully": False, "errors": str(ex)}

    def _health(self, req: dict) -> dict:
        return {"status": proto.SERVING_STATUS["SERVING"]}

    def _init_metric(self, req: dict) -> dict:
        base = {"db": req.get("db", "default"), "namespace": req.get("namespace", "default"),
                "metric": req.get("metric", "")}
        try:
            interval = req.get("shardInterval", "")
            retention = req.get("retention", "")
            kwargs = {}
            if interval.strip():
                kwargs["shard_interval_ms"] = parse_duration_ms(interval)
            if retention.strip():
                kwargs["retention_ms"] = parse_duration_ms(retention)
            self.engine.warehouse.init_metric(
                base["db"], base["namespace"], base["metric"], **kwargs)
            return {**base, "completedSuccessfully": True}
        except Exception as ex:
            return {**base, "completedSuccessfully": False, "errorMsg": str(ex)}

    def _restore(self, req: dict) -> dict:
        path = req.get("sourcePath", "")
        try:
            self.engine.restore_metric_bundle(path, overwrite=True)
            return {"completedSuccessfully": True, "path": path}
        except Exception as ex:
            return {"completedSuccessfully": False, "path": path, "errorMsg": str(ex)}

    # ------------------------------------------------------ streaming rpc
    def _stream_sql(self, conn: Http2Connection, stream: Stream, headers: dict) -> None:
        import time as time_mod

        from ..streaming.subscribe import SubscriptionChannel

        raw = stream.read_message(timeout=30.0)
        if raw is None:
            self._trailers_only(conn, stream.sid, GRPC_INTERNAL, "missing request message")
            return
        req = proto.decode(proto.SQL_REQUEST_STATEMENT, raw)
        db = req.get("db", "default")
        ns = req.get("namespace", "default")
        statement = req.get("statement", "")
        base = {"db": db, "namespace": ns, "metric": req.get("metric", "")}
        try:
            self._check_auth(headers, req, "metric_read")
        except _GrpcStatus as st:
            self._trailers_only(conn, stream.sid, st.code, st.message)
            return

        channel = SubscriptionChannel()  # bounded: see its docstring
        conn.send_headers(stream.sid, [(":status", "200"), ("content-type", "application/grpc")])
        try:
            quid = self.subs.subscribe(statement, channel.push, db=db, ns=ns)
            schema = self.engine.warehouse.get_schema(
                db, ns, base["metric"] or self.subs.subs[quid].metric)
            base["metric"] = self.subs.subs[quid].metric
        except Exception as ex:
            # StreamActor parity: failures answer in-band, stream stays OK
            failed = {**base, "subscriptionByQueryStringFailed": {
                "queryString": statement, "reason": str(ex)}}
            self._send_stream_msg(conn, stream, failed)
            conn.send_headers(stream.sid, [("grpc-status", "0")], end_stream=True)
            return

        def send(kind: str, batches: list[list[dict]]) -> None:
            bits = [proto.bit_to_proto(r, schema) for b in batches for r in b]
            self._send_stream_msg(conn, stream, {**base, kind: {"quid": quid, "records": bits}})

        try:
            # StreamActor parity (StreamActor.scala publish cycle, same
            # floor the WS transport applies): the historical payload —
            # pushed first, inside subscribe() — goes out immediately;
            # live pushes wait in the channel and flush at most once per
            # refresh period, combined into ONE RecordsPublished
            refresh_s = self.subs.refresh_period_ms / 1000.0
            historical, *held = channel.drain(0)
            send("subscribedByQueryString", [historical])
            last_flush = time_mod.monotonic()
            while not stream.reset and not conn.closed:
                wait = last_flush + refresh_s - time_mod.monotonic()
                if wait > 0:
                    time_mod.sleep(min(wait, 0.05))
                    continue
                batches, held = held + channel.drain(0.05), []
                if batches:
                    send("recordsPublished", batches)
                    last_flush = time_mod.monotonic()
        except (ConnectionClosed, OSError):
            pass
        finally:
            self.subs.unsubscribe(quid)

    def _send_stream_msg(self, conn: Http2Connection, stream: Stream, msg: dict) -> None:
        body = proto.encode(proto.SQL_STREAMING_RESPONSE, msg)
        conn.send_data(stream.sid, b"\x00" + struct.pack(">I", len(body)) + body)

    # -------------------------------------------------------------- admin
    def stop(self) -> None:
        self._stop.set()
        try:
            self.sock.close()
        except OSError:
            pass
        for conn in self._conns:
            conn.close()


def serve_grpc(engine, host: str = "127.0.0.1", port: int = 0, auth=None,
               subscriptions=None) -> NsdbGrpcServer:
    """Start the NSDb gRPC endpoint; port=0 picks a free port
    (server.port tells which). Mirrors GRPCServer.scala's start()."""
    return NsdbGrpcServer(engine, host=host, port=port, auth=auth,
                          subscriptions=subscriptions)
