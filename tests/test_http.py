"""HTTP API tests — the reference's QueryApi/DataApi/CommandApi shapes
(nsdb-http/src/test/.../QueryApiSpec.scala, DataApiTest.scala) driven
through real sockets."""
import json
import urllib.request

import pytest

from nsdb_spark import http_api


def _post(port, path, payload):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _get(port, path):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture()
def server(engine):
    srv, _ = http_api.serve(engine)
    yield srv.server_address[1]
    srv.shutdown()


def test_data_insert_then_query(server):
    port = server
    for ts, v, city in [(1000, 21.5, "rome"), (2000, 30.0, "milan")]:
        code, body = _post(port, "/data", {
            "db": "db1", "namespace": "ns1", "metric": "temps",
            "bit": {"timestamp": ts, "value": v,
                    "dimensions": {"city": city}, "tags": {"sensor": "a"}},
        })
        assert code == 200 and body["status"] == "OK"

    code, body = _post(port, "/query", {
        "db": "db1", "namespace": "ns1", "metric": "temps",
        "queryString": "select * from temps order by timestamp",
    })
    assert code == 200
    assert [r["value"] for r in body["records"]] == [21.5, 30.0]


def test_query_enrichment_from_to_filters(server):
    port = server
    for ts, v in [(1000, 1.0), (2000, 2.0), (3000, 3.0)]:
        _post(port, "/data", {
            "metric": "m", "bit": {"timestamp": ts, "value": v,
                                   "dimensions": {}, "tags": {"g": "x"}},
        })
    code, body = _post(port, "/query", {
        "metric": "m",
        "queryString": "select * from m",
        "from": 1500, "to": 3500,
        "filters": [{"dimension": "value", "value": 2.5, "operator": ">"}],
    })
    assert code == 200
    assert [r["timestamp"] for r in body["records"]] == [3000]


def test_commands_routes(server):
    port = server
    _post(port, "/data", {
        "db": "db9", "namespace": "nsx", "metric": "cpu",
        "bit": {"timestamp": 1, "value": 5, "dimensions": {"host": "a"},
                "tags": {"dc": "eu"}},
    })
    assert _get(port, "/commands/dbs")[1]["dbs"] == ["db9"]
    assert _get(port, "/commands/db9/namespaces")[1]["namespaces"] == ["nsx"]
    assert _get(port, "/commands/db9/nsx/metrics")[1]["metrics"] == ["cpu"]
    code, body = _get(port, "/commands/db9/nsx/cpu/describe")
    assert code == 200
    fields = {f["name"]: f for f in body["fields"]}
    assert fields["dc"]["fieldClass"] == "tag"
    assert fields["host"]["fieldClass"] == "dimension"
    assert fields["timestamp"]["type"] == "BIGINT"


def test_error_paths(server):
    port = server
    code, body = _post(port, "/query", {
        "metric": "nope", "queryString": "select * frm nope"})
    assert code == 400 and "SQLParseError" in body["error"]
    code, body = _get(port, "/no/such/route")
    assert code == 404


def test_query_validate_route(server):
    port = server
    _post(port, "/data", {
        "metric": "vm", "bit": {"timestamp": 1, "value": 5.0,
                                "dimensions": {}, "tags": {"g": "x"}},
    })
    code, body = _post(port, "/query/validate",
                       {"metric": "vm", "queryString": "select * from vm"})
    assert code == 200 and body["valid"] is True
    # parse error → invalid
    code, body = _post(port, "/query/validate",
                       {"metric": "vm", "queryString": "select * frm vm"})
    assert code == 400 and body["valid"] is False
    # analyzer error (group by a non-tag) → invalid with the exact message
    code, body = _post(port, "/query/validate",
                       {"metric": "vm", "queryString": "select sum(value) from vm group by nope"})
    assert code == 400 and "invalid" in body["error"]


def test_subscribe_poll_unsubscribe(engine):
    import threading
    import urllib.request

    from nsdb_spark.streaming.subscribe import SubscriptionManager

    sub = SubscriptionManager(engine)
    srv, _ = http_api.serve(engine, subscription_manager=sub)
    port = srv.server_address[1]
    try:
        _post(port, "/data", {
            "metric": "live", "bit": {"timestamp": 1000, "value": 50.0,
                                      "dimensions": {}, "tags": {"k": "a"}}})
        code, body = _post(port, "/subscribe", {
            "metric": "live", "queryString": "select * from live where value > 20"})
        assert code == 200
        uuid = body["uuid"]
        assert [r["value"] for r in body["historical"]] == [50.0]

        # long-poll in a thread, then insert matching + non-matching records
        result = {}
        def poll():
            result.update(_get(port, f"/poll/{uuid}?timeout_ms=8000")[1])
        t = threading.Thread(target=poll)
        t.start()
        _post(port, "/data", {
            "metric": "live", "bit": {"timestamp": 2000, "value": 99.0,
                                      "dimensions": {}, "tags": {"k": "b"}}})
        _post(port, "/data", {
            "metric": "live", "bit": {"timestamp": 3000, "value": 1.0,
                                      "dimensions": {}, "tags": {"k": "c"}}})
        t.join(timeout=15)
        pushed = [r for batch in result["batches"] for r in batch]
        assert [r["value"] for r in pushed] == [99.0]  # 1.0 filtered out

        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/subscribe/{uuid}", method="DELETE")
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
        assert _get(port, f"/poll/{uuid}?timeout_ms=100")[0] == 404
    finally:
        srv.shutdown()


def test_failing_subscriber_neither_fails_the_write_nor_starves_others(engine):
    """A subscription whose callback raises on a live push is logged and
    skipped: the next subscription on the metric still gets the row,
    /data answers 200 and the row reads back."""
    from nsdb_spark.streaming.subscribe import SubscriptionManager

    sub = SubscriptionManager(engine)
    srv, _ = http_api.serve(engine, subscription_manager=sub)
    port = srv.server_address[1]
    try:
        _post(port, "/data", {
            "metric": "live", "bit": {"timestamp": 1000, "value": 1.0,
                                      "dimensions": {}, "tags": {"k": "a"}}})
        historical = []

        def broken(rows):
            if not historical:
                historical.append(rows)
                return
            raise RuntimeError("subscriber boom")

        got = []
        sub.subscribe("select * from live", broken)
        sub.subscribe("select * from live", got.append)
        code, body = _post(port, "/data", {
            "metric": "live", "bit": {"timestamp": 2000, "value": 2.0,
                                      "dimensions": {}, "tags": {"k": "b"}}})
        assert code == 200 and body["status"] == "OK"
        assert [[r["timestamp"] for r in p] for p in got[1:]] == [[2000]]
        code, body = _post(port, "/query", {
            "metric": "live", "queryString": "select * from live order by timestamp"})
        assert [r["timestamp"] for r in body["records"]] == [1000, 2000]
    finally:
        srv.shutdown()


def _get_with_body(port, path, payload):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="GET",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_get_query_select_only(server):
    # QueryApi.scala:140-163 — GET /query executes SELECT, refuses DELETE
    _post(server, "/data", {"bit": {"timestamp": 5, "value": 2,
                                    "dimensions": {"h": "x"}}, "metric": "gm"})
    code, out = _get_with_body(
        server, "/query", {"metric": "gm", "queryString": "select * from gm"}
    )
    assert code == 200 and len(out["records"]) == 1
    code, out = _get_with_body(
        server, "/query",
        {"metric": "gm", "queryString": "delete from gm where timestamp = 5"},
    )
    assert code == 405 and "not a select statement" in out["error"]
    # the bit survived the refused DELETE
    code, out = _get_with_body(
        server, "/query", {"metric": "gm", "queryString": "select * from gm"}
    )
    assert len(out["records"]) == 1


# ---------------------------------------------------------------- websocket


class WsClient:
    """Minimal RFC 6455 client for socket-level transport tests."""

    def __init__(self, port, path="/ws-stream", protocols=None, timeout=15.0):
        import base64
        import os
        import socket

        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        key = base64.b64encode(os.urandom(16)).decode()
        lines = [
            f"GET {path} HTTP/1.1",
            f"Host: 127.0.0.1:{port}",
            "Upgrade: websocket",
            "Connection: Upgrade",
            f"Sec-WebSocket-Key: {key}",
            "Sec-WebSocket-Version: 13",
        ]
        if protocols:
            lines.append("Sec-WebSocket-Protocol: " + ", ".join(protocols))
        self.sock.sendall(("\r\n".join(lines) + "\r\n\r\n").encode())
        self.f = self.sock.makefile("rb")
        self.status = int(self.f.readline().split()[1])
        self.headers = {}
        while True:
            line = self.f.readline().strip()
            if not line:
                break
            k, _, v = line.partition(b": ")
            self.headers[k.decode().lower()] = v.decode()
        if self.status == 101:
            from nsdb_spark.ws import accept_key

            assert self.headers["sec-websocket-accept"] == accept_key(key)

    def send_json(self, payload):
        from nsdb_spark.ws import OP_TEXT, encode_frame

        self.sock.sendall(encode_frame(OP_TEXT, json.dumps(payload).encode(), mask=True))

    def recv_json(self):
        from nsdb_spark.ws import read_frame

        op, payload = read_frame(self.f)
        return json.loads(payload)

    def body_json(self):
        import json as _json

        n = int(self.headers.get("content-length", 0))
        return _json.loads(self.f.read(n))

    def close(self):
        try:
            self.sock.close()
        except OSError:
            pass


@pytest.fixture()
def ws_server(engine):
    from nsdb_spark.model import Bit
    from nsdb_spark.streaming import SubscriptionManager

    engine.insert_bits(
        "default", "default", "people",
        [Bit(8, 1, {}, {"name": "Frank"}), Bit(9, 2, {}, {"name": "Bill"})],
    )
    subs = SubscriptionManager(engine)
    srv, _ = http_api.serve(engine, subscription_manager=subs)
    yield srv.server_address[1]
    srv.shutdown()


def test_ws_subscribe_historical_then_live(ws_server):
    port = ws_server
    c = WsClient(port, "/ws-stream?refresh_period=100&retention_size=10")
    assert c.status == 101
    c.send_json({
        "db": "default", "namespace": "default", "metric": "people",
        "queryString": "select * from people where name = Frank",
    })
    first = c.recv_json()
    assert first["queryString"].startswith("select")
    assert [r["timestamp"] for r in first["records"]] == [8]
    quid = first["quid"]

    # live matching insert via /data → pushed over the SAME connection
    _post(port, "/data", {
        "metric": "people",
        "bit": {"timestamp": 20, "value": 9, "tags": {"name": "Frank"}},
    })
    push = c.recv_json()
    assert push["quid"] == quid and push["metric"] == "people"
    assert [r["timestamp"] for r in push["records"]] == [20]

    # non-matching insert → nothing arrives on the next flush cycles
    _post(port, "/data", {
        "metric": "people",
        "bit": {"timestamp": 21, "value": 9, "tags": {"name": "Bill"}},
    })
    import socket

    c.sock.settimeout(0.8)
    try:
        got = c.recv_json()
        raise AssertionError(f"unexpected push {got}")
    except (socket.timeout, TimeoutError):
        pass
    c.close()


def test_ws_refresh_period_floor_rejected(ws_server):
    # WsResources.scala:157-160: below-floor period refused BEFORE upgrade
    c = WsClient(ws_server, "/ws-stream?refresh_period=10")
    assert c.status == 400
    assert "must be greater or equal" in c.body_json()["error"]
    c.close()


def test_ws_invalid_query_gets_failure_message(ws_server):
    c = WsClient(ws_server, "/ws-stream")
    c.send_json({"db": "default", "namespace": "default", "metric": "people",
                 "queryString": "selekt nope"})
    out = c.recv_json()
    assert "reason" in out and out["queryString"] == "selekt nope"
    c.close()


def test_ws_fragmented_register_and_unmasked_close(ws_server):
    from nsdb_spark.ws import OP_CLOSE, OP_CONT, OP_TEXT, encode_frame, read_frame

    # RegisterQuery split across TEXT(fin=0) + CONT(fin=1) frames
    c = WsClient(ws_server, "/ws-stream")
    payload = json.dumps({
        "db": "default", "namespace": "default", "metric": "people",
        "queryString": "select * from people where name = Frank",
    }).encode()
    half = len(payload) // 2
    c.sock.sendall(encode_frame(OP_TEXT, payload[:half], mask=True, fin=False))
    c.sock.sendall(encode_frame(OP_CONT, payload[half:], mask=True, fin=True))
    first = c.recv_json()
    assert [r["timestamp"] for r in first["records"]] == [8]
    c.close()

    # unmasked client data frame → protocol-error close 1002
    c2 = WsClient(ws_server, "/ws-stream")
    c2.sock.sendall(encode_frame(OP_TEXT, b"{}", mask=False))
    op, body = read_frame(c2.f)
    assert op == OP_CLOSE
    import struct as _struct

    assert _struct.unpack(">H", body[:2])[0] == 1002
    c2.close()


def test_ws_enrichment_from_to(ws_server):
    c = WsClient(ws_server, "/ws-stream")
    c.send_json({
        "db": "default", "namespace": "default", "metric": "people",
        "queryString": "select * from people", "from": 0, "to": 8,
    })
    first = c.recv_json()
    assert [r["timestamp"] for r in first["records"]] == [8]
    c.close()


# ------------------------------------------------------------- authorization


class DenyBelow100(  # deny metric reads on 'secret', require token for writes
    __import__("nsdb_spark.security", fromlist=["NSDbAuthorizationProvider"]).NSDbAuthorizationProvider
):
    def check_metric_auth(self, db, ns, metric, payload, write):
        from nsdb_spark.security import AuthorizationResponse

        if metric == "secret":
            return AuthorizationResponse(False, f"metric {metric} is restricted")
        if write and payload != "Bearer tok":
            return AuthorizationResponse(False, "write requires a token")
        return AuthorizationResponse(True)


@pytest.fixture()
def auth_server(engine):
    from nsdb_spark.model import Bit

    engine.insert_bits("default", "default", "open", [Bit(1, 1)])
    engine.insert_bits("default", "default", "secret", [Bit(1, 1)])
    srv, _ = http_api.serve(engine, auth=DenyBelow100())
    yield srv.server_address[1]
    srv.shutdown()


def _post_h(port, path, payload, headers=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json", **(headers or {})},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_auth_denies_restricted_metric(auth_server):
    port = auth_server
    code, body = _post(port, "/query", {
        "metric": "secret", "queryString": "select * from secret"})
    assert code == 403 and "restricted" in body["error"]
    code, body = _get(port, "/commands/default/default/secret/describe")
    assert code == 403
    # open metric still readable
    code, body = _post(port, "/query", {
        "metric": "open", "queryString": "select * from open"})
    assert code == 200 and len(body["records"]) == 1


def test_auth_write_requires_token(auth_server):
    port = auth_server
    bit = {"metric": "open", "bit": {"timestamp": 5, "value": 2}}
    code, body = _post(port, "/data", bit)
    assert code == 403 and "token" in body["error"]
    code, body = _post_h(port, "/data", bit, {"Authorization": "Bearer tok"})
    assert code == 200 and body["status"] == "OK"


def test_ws_auth_denied_register(engine):
    from nsdb_spark.model import Bit
    from nsdb_spark.streaming import SubscriptionManager

    engine.insert_bits("default", "default", "secret", [Bit(1, 1)])
    subs = SubscriptionManager(engine)
    srv, _ = http_api.serve(engine, subscription_manager=subs, auth=DenyBelow100())
    port = srv.server_address[1]
    try:
        c = WsClient(port, "/ws-stream")
        c.send_json({"db": "default", "namespace": "default", "metric": "secret",
                     "queryString": "select * from secret"})
        out = c.recv_json()
        assert out["reason"].startswith("unauthorized")
        c.close()
    finally:
        srv.shutdown()


def test_auth_get_query_not_a_side_door(auth_server):
    """GET /query must apply the same metric-level gate as POST /query."""
    port = auth_server
    code, body = _get_with_body(port, "/query", {
        "metric": "secret", "queryString": "select * from secret"})
    assert code == 403 and "restricted" in body["error"]
    code, body = _get_with_body(port, "/query", {
        "metric": "open", "queryString": "select * from open"})
    assert code == 200 and len(body["records"]) == 1


def test_auth_gates_on_executed_metric_not_body_field(auth_server):
    """The metric-level gate must use the metric parsed from queryString
    — a permissive body `metric` field is not a bypass."""
    port = auth_server
    code, body = _post(port, "/query", {
        "metric": "open", "queryString": "select * from secret"})
    assert code == 403 and "restricted" in body["error"]
    code, body = _get_with_body(port, "/query", {
        "metric": "open", "queryString": "select * from secret"})
    assert code == 403


def test_ws_rows_buffered_during_historical_scan_are_flushed(engine):
    """subscribe() flushes rows that arrived DURING the historical scan
    through the callback inline, before it returns — i.e. before the WS
    session knows its quid. Those batches must be parked and pushed once
    registration completes, not block 5 s each and then be dropped."""
    import time as _time

    from nsdb_spark.model import Bit
    from nsdb_spark.streaming import SubscriptionManager

    engine.insert_bits("default", "default", "people", [Bit(8, 1, {}, {"name": "A"})])
    subs = SubscriptionManager(engine)
    orig = subs.subscribe

    def racing_subscribe(sql, cb, **kw):
        state = {"historical_seen": False}

        def wrapped(recs):
            first = not state["historical_seen"]
            cb(recs)
            if first:
                state["historical_seen"] = True
                # a batch published mid-scan: drained inline before
                # subscribe() returns, exactly the pre-quid window
                cb([{"timestamp": 99, "value": 7, "name": "A"}])

        return orig(sql, wrapped, **kw)

    subs.subscribe = racing_subscribe
    srv, _ = http_api.serve(engine, subscription_manager=subs)
    port = srv.server_address[1]
    try:
        t0 = _time.monotonic()
        c = WsClient(port, "/ws-stream?refresh_period=100")
        c.send_json({"db": "default", "namespace": "default", "metric": "people",
                     "queryString": "select * from people"})
        first = c.recv_json()
        # registration must not stall on the parked batch
        assert _time.monotonic() - t0 < 4.0
        assert [r["timestamp"] for r in first["records"]] == [8]
        push = c.recv_json()  # the parked batch arrives on a flush cycle
        assert push["quid"] == first["quid"]
        assert [r["timestamp"] for r in push["records"]] == [99]
        c.close()
    finally:
        srv.shutdown()


def test_poll_and_unsubscribe_require_metric_auth(engine):
    """/poll/<uuid> and DELETE /subscribe/<uuid> act on an existing
    subscription — they must run the same metric gate as /subscribe,
    not hand a uuid-holder another subscriber's stream."""
    from nsdb_spark.model import Bit
    from nsdb_spark.streaming import SubscriptionManager

    engine.insert_bits("default", "default", "secret", [Bit(200, 1)])
    subs = SubscriptionManager(engine)
    srv, _ = http_api.serve(engine, subscription_manager=subs)
    try:
        port = srv.server_address[1]
        code, body = _post(port, "/subscribe", {
            "db": "default", "namespace": "default", "metric": "secret",
            "queryString": "select * from secret"})
        assert code == 200
        quid = body["uuid"]
        srv.shutdown()
        # restart the SAME manager behind a denying provider
        srv2, _ = http_api.serve(
            engine, subscription_manager=subs, auth=DenyBelow100()
        )
        port2 = srv2.server_address[1]
        try:
            code, body = _get_with_body(port2, f"/poll/{quid}", {})
            assert code == 403
            import http.client

            conn = http.client.HTTPConnection("localhost", port2, timeout=10)
            conn.request("DELETE", f"/subscribe/{quid}")
            assert conn.getresponse().status == 403
            assert quid in subs.subs  # not torn down
        finally:
            srv2.shutdown()
    finally:
        try:
            srv.shutdown()
        except Exception:
            pass


def test_topology_and_locations_routes(server, engine):
    # CommandApi.scala:82 /commands/topology + :117 /locations/db/ns/metric
    port = server
    # shard interval 1000 ms -> the two bits land in two shards
    engine.warehouse.init_metric("db1", "ns1", "temps", 1000)
    for ts, v in [(500, 1.0), (1500, 2.0), (1600, 3.0)]:
        code, _ = _post(port, "/data", {
            "db": "db1", "namespace": "ns1", "metric": "temps",
            "bit": {"timestamp": ts, "value": v,
                    "dimensions": {}, "tags": {"sensor": "a"}},
        })
        assert code == 200

    code, body = _get(port, "/commands/topology")
    assert code == 200
    assert body["nodes"] and body["applicationId"]
    # TopologyGot member shape (NSDbNode.scala:26)
    for node in body["nodes"]:
        assert set(node) == {"nodeAddress", "nodeFsId", "volatileNodeUuid"}
        assert node["nodeFsId"] and node["volatileNodeUuid"]
    assert body["defaultParallelism"] >= 1

    code, body = _get(port, "/locations/db1/ns1/temps")
    assert code == 200
    locs = body["locations"]
    assert [l["shard_start"] for l in locs] == [0, 1000]
    by_start = {l["shard_start"]: l for l in locs}
    assert by_start[0]["rows"] == 1 and by_start[1000]["rows"] == 2
    for l in locs:
        assert l["metric"] == "temps"
        assert l["to"] == l["from"] + 999
        assert l["n_files"] >= 1 and l["bytes"] > 0

    # unknown metric -> error status, not a crash
    code, body = _get(port, "/locations/db1/ns1/nope")
    assert code == 400 and "MetricNotFound" in body["error"]


def test_server_survives_socket_garbage(server):
    """Raw malformed bytes on the wire (bad request lines, binary
    garbage, truncated/oversized pieces, half-closed connections) must
    never take the server down: after every blob, a well-formed request
    still serves. The stdlib handler owns request-line parsing — this
    pins that OUR handler layers (routing, JSON decode, content-length
    reads) never let an exception escape the connection thread."""
    import socket

    port = server
    blobs = [
        b"\x00\xff\xfe\x01garbage\r\n\r\n",
        b"GET\r\n\r\n",
        b"GET /query HTTP/9.9\r\n\r\n",
        b"POST /data HTTP/1.1\r\nContent-Length: 999999\r\n\r\n{",
        b"POST /query HTTP/1.1\r\nContent-Length: 5\r\n\r\nnotjs",
        b"GET " + b"/" * 70000 + b" HTTP/1.1\r\n\r\n",
        b"OPTIONS * HTTP/1.1\r\nHost: x\r\n" + b"X-A: b\r\n" * 200 + b"\r\n",
        b"",
        b"\r\n\r\n\r\n",
        b"POST /data HTTP/1.1\r\nContent-Length: -5\r\n\r\n",
    ]
    for blob in blobs:
        s = socket.create_connection(("127.0.0.1", port), timeout=5)
        try:
            if blob:
                s.sendall(blob)
            s.settimeout(2)
            try:
                s.recv(4096)
            except (TimeoutError, OSError):
                pass
        finally:
            s.close()
        # the server must still answer a well-formed request
        code, body = _post(port, "/query/validate", {
            "db": "d", "namespace": "n", "metric": "m",
            "queryString": "select * from m limit 1",
        })
        assert code in (200, 400, 404), (blob[:30], code)


def test_ws_survives_malformed_frames(ws_server):
    """Post-handshake garbage on the WebSocket wire (reserved opcodes,
    RSV bits, truncated frames, absurd declared lengths, non-JSON text)
    must only kill THAT connection at worst — the server keeps serving
    fresh subscriptions afterwards."""
    import json as _json

    from nsdb_spark.ws import OP_TEXT, encode_frame

    blobs = [
        b"\x83\x04\x01\x02\x03\x04",              # reserved opcode 0x3
        b"\xf1\x02hi",                            # RSV bits set
        b"\x81\x7f" + (2**40).to_bytes(8, "big"), # 1 TiB declared length
        b"\x81",                                  # truncated header
        encode_frame(OP_TEXT, b"not json at all", mask=True),
        b"\x81\x85\x00\x00\x00\x00ab",            # masked len 5, 2 bytes sent
    ]
    for blob in blobs:
        c = WsClient(ws_server, "/ws-stream")
        assert c.status == 101
        try:
            c.sock.sendall(blob)
            c.sock.settimeout(2)
            try:
                c.f.read(1)
            except (TimeoutError, OSError):
                pass
        finally:
            c.close()
        # a fresh connection still registers and gets its historical rows
        c2 = WsClient(ws_server, "/ws-stream")
        c2.send_json({
            "db": "default", "namespace": "default", "metric": "people",
            "queryString": "select * from people limit 10",
        })
        got = c2.recv_json()
        assert got.get("queryString") or "records" in _json.dumps(got), got
        c2.close()
