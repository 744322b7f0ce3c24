"""Wire-level gRPC endpoint tests — stdlib HTTP/2 + HPACK + proto3 codec.

Layers under test:
- HPACK decode against the published RFC 7541 Appendix C vectors
  (C.2.1 plain literal, C.3.1-3 dynamic-table requests, C.4.1-3 the same
  requests Huffman-coded, C.6.1 Huffman response) — these pin the
  Huffman table and the dynamic-table state machine against the spec,
  not against our own encoder.
- proto3 codec roundtrips incl. oneof / map / repeated / negative int64.
- The full server: every rpc in service.proto + health/init/restore +
  the streamSQL server-stream (streaming.proto:53-55), through a real
  socket with our stdlib client.
"""
from __future__ import annotations

import time

import pytest

from fixtures import AGG_LONG_METRIC, LONG_METRIC, load
from nsdb_spark.grpc import hpack, proto
from nsdb_spark.grpc.server import parse_duration_ms, serve_grpc
from nsdb_spark.grpc.client import GrpcError, NsdbGrpcClient


# --------------------------------------------------------------- HPACK

def test_hpack_rfc_c2_1_literal_with_indexing():
    dec = hpack.Decoder()
    data = bytes.fromhex("400a637573746f6d2d6b65790d637573746f6d2d686561646572")
    assert dec.decode(data) == [("custom-key", "custom-header")]
    assert dec.table == [("custom-key", "custom-header")]
    assert dec.size == 55


def test_hpack_rfc_c3_requests_plain():
    dec = hpack.Decoder()
    first = bytes.fromhex("828684410f7777772e6578616d706c652e636f6d")
    assert dec.decode(first) == [
        (":method", "GET"), (":scheme", "http"), (":path", "/"),
        (":authority", "www.example.com"),
    ]
    second = bytes.fromhex("828684be58086e6f2d6361636865")
    assert dec.decode(second) == [
        (":method", "GET"), (":scheme", "http"), (":path", "/"),
        (":authority", "www.example.com"), ("cache-control", "no-cache"),
    ]
    third = bytes.fromhex("828785bf400a637573746f6d2d6b65790c637573746f6d2d76616c7565")
    assert dec.decode(third) == [
        (":method", "GET"), (":scheme", "https"), (":path", "/index.html"),
        (":authority", "www.example.com"), ("custom-key", "custom-value"),
    ]
    assert dec.table[0] == ("custom-key", "custom-value")


def test_hpack_rfc_c4_requests_huffman():
    dec = hpack.Decoder()
    first = bytes.fromhex("828684418cf1e3c2e5f23a6ba0ab90f4ff")
    assert dec.decode(first) == [
        (":method", "GET"), (":scheme", "http"), (":path", "/"),
        (":authority", "www.example.com"),
    ]
    second = bytes.fromhex("828684be5886a8eb10649cbf")
    assert dec.decode(second)[-1] == ("cache-control", "no-cache")
    third = bytes.fromhex("828785bf408825a849e95ba97d7f8925a849e95bb8e8b4bf")
    assert dec.decode(third)[-1] == ("custom-key", "custom-value")


def test_hpack_rfc_c6_1_response_huffman():
    dec = hpack.Decoder(max_table_size=256)
    data = bytes.fromhex(
        "488264025885aec3771a4b6196d07abe941054d444a8200595040b8166e082a6"
        "2d1bff6e919d29ad171863c78f0b97c8e9ae82ae43d3"
    )
    assert dec.decode(data) == [
        (":status", "302"),
        ("cache-control", "private"),
        ("date", "Mon, 21 Oct 2013 20:13:21 GMT"),
        ("location", "https://www.example.com"),
    ]


def test_hpack_huffman_padding_must_be_ones():
    with pytest.raises(hpack.HpackError):
        # 'e' = 00101 + three 0 pad bits → invalid padding
        hpack.huffman_decode(bytes([0b00101000]))


def test_hpack_encoder_roundtrips_through_decoder():
    enc, dec = hpack.Encoder(), hpack.Decoder()
    headers = [
        (":method", "POST"), (":scheme", "http"),
        (":path", "/io.radicalbit.nsdb.rpc.NSDBServiceSQL/InsertBit"),
        (":authority", "localhost:7817"),
        ("content-type", "application/grpc"), ("te", "trailers"),
        ("grpc-status", "0"), ("authorization", "Bearer tok~en"),
    ]
    assert dec.decode(enc.encode(headers)) == headers


# encoder-side fuzz (hypothesis) — mirrors the proto3 decoder fuzz: the
# stateless encoder must emit blocks ANY conformant peer decodes back to
# the exact header list, across static-table exact/name hits and raw
# latin-1 literals
from hypothesis import given as _given, settings as _settings  # noqa: E402
from hypothesis import strategies as hst  # noqa: E402

_STATIC_NAMES = hst.sampled_from([n for n, _ in hpack.STATIC_TABLE])
_TOKEN_NAMES = hst.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789-:_", min_size=1, max_size=20
)
_LATIN1_VALUES = hst.text(
    alphabet=hst.characters(min_codepoint=0, max_codepoint=255), max_size=40
)


@_given(
    headers=hst.lists(
        hst.tuples(hst.one_of(_STATIC_NAMES, _TOKEN_NAMES), _LATIN1_VALUES),
        max_size=12,
    )
)
@_settings(max_examples=150, deadline=None)
def test_hpack_encoder_roundtrip_fuzz(headers):
    enc, dec = hpack.Encoder(), hpack.Decoder()
    assert dec.decode(enc.encode(headers)) == headers


#: every symbol the embedded RFC 7541 Appendix B table carries
_HUFF_SYMBOLS = sorted(hpack._HUFFMAN_CODES)


def _huffman_encode(data: bytes) -> bytes:
    """Test-side reference Huffman encoder: MSB-first code concatenation
    + all-ones EOS-prefix padding (RFC 7541 §5.2) — built from the SAME
    code table the decoder embeds, so a table typo shows up as a C-vector
    failure, not as a self-consistent fuzz pass."""
    acc, nbits = 0, 0
    out = bytearray()
    for b in data:
        code, ln = hpack._HUFFMAN_CODES[b]
        acc = (acc << ln) | code
        nbits += ln
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
            acc &= (1 << nbits) - 1
    if nbits:
        out.append(((acc << (8 - nbits)) | ((1 << (8 - nbits)) - 1)) & 0xFF)
    return bytes(out)


@_given(syms=hst.lists(hst.sampled_from(_HUFF_SYMBOLS), max_size=60))
@_settings(max_examples=200, deadline=None)
def test_hpack_huffman_decode_roundtrip_fuzz(syms):
    """huffman_decode inverts a conformant encoder for every symbol the
    table carries, including the 13-15 bit tail codes (NUL, $, @, [, ],
    ~, ^, }, <, `, {) whose multi-byte accumulator paths the RFC Appendix
    C vectors never reach."""
    raw = bytes(syms)
    assert hpack.huffman_decode(_huffman_encode(raw)) == raw


@_given(
    pairs=hst.lists(
        hst.tuples(
            hst.text(alphabet="".join(map(chr, _HUFF_SYMBOLS)), max_size=24),
            hst.text(alphabet="".join(map(chr, _HUFF_SYMBOLS)), max_size=24),
        ),
        min_size=1,
        max_size=6,
    )
)
@_settings(max_examples=100, deadline=None)
def test_hpack_decode_huffman_literals_fuzz(pairs):
    """Full decode() over literal-with-incremental-indexing fields whose
    name AND value are Huffman-coded — the H-flagged string path plus
    dynamic-table growth/eviction under arbitrary header content."""
    block = bytearray()
    for name, value in pairs:
        block.append(0x40)  # literal w/ incremental indexing, new name
        for s in (name, value):
            h = _huffman_encode(s.encode("latin-1"))
            hpack._write_int(len(h), 7, 0x80, block)
            block += h
    assert hpack.Decoder().decode(bytes(block)) == pairs


# --------------------------------------------------------------- proto3

def test_proto_bit_roundtrip_oneofs_and_maps():
    bit = {
        "timestamp": 1704844800000,
        "decimalValue": 2.5,
        "dimensions": {"surname": {"stringValue": "Doe"}, "n": {"longValue": -3}},
        "tags": {"name": {"stringValue": "John"}, "h": {"decimalValue": 30.5}},
    }
    assert proto.decode(proto.BIT, proto.encode(proto.BIT, bit)) == bit


def test_proto_oneof_zero_value_is_serialized():
    # longValue: 0 must survive (oneof presence ≠ proto3 default-skip)
    raw = proto.encode(proto.RPC_INSERT, {"metric": "m", "longValue": 0})
    out = proto.decode(proto.RPC_INSERT, raw)
    assert out["longValue"] == 0 and "decimalValue" not in out


def test_proto_negative_int64_ten_byte_varint():
    raw = proto.encode(proto.BIT, {"timestamp": -5, "longValue": -9})
    out = proto.decode(proto.BIT, raw)
    assert out == {"timestamp": -5, "longValue": -9}


def test_proto_default_values_omitted_on_wire():
    raw = proto.encode(proto.SQL_STATEMENT_RESPONSE,
                       {"db": "", "completedSuccessfully": False, "reason": ""})
    assert raw == b""


def test_proto_unknown_fields_skipped():
    # a field number outside the descriptor must be skipped, not crash
    inner = proto.encode(proto.SQL_REQUEST_STATEMENT, {"db": "d", "statement": "s"})
    extra = bytearray(inner)
    proto.write_varint((99 << 3) | 0, extra)  # varint field 99
    proto.write_varint(7, extra)
    out = proto.decode(proto.SQL_REQUEST_STATEMENT, bytes(extra))
    assert out == {"db": "d", "statement": "s"}


def test_parse_duration_ms():
    assert parse_duration_ms("1d") == 86_400_000
    assert parse_duration_ms("30 minutes") == 1_800_000
    assert parse_duration_ms("500ms") == 500
    with pytest.raises(ValueError):
        parse_duration_ms("soon")


# ------------------------------------------------------------- endpoint

@pytest.fixture()
def grpc_server(engine):
    server = serve_grpc(engine, port=0)
    yield server
    server.stop()


@pytest.fixture()
def grpc_client(grpc_server):
    client = NsdbGrpcClient(grpc_server.host, grpc_server.port)
    yield client
    client.close()


def test_grpc_health_check(grpc_client):
    assert grpc_client.health_check()["status"] == proto.SERVING_STATUS["SERVING"]


def test_grpc_insert_bit_then_select(engine, grpc_client):
    res = grpc_client.insert_bit({
        "database": "db", "namespace": "ns", "metric": "people",
        "timestamp": 4, "longValue": 3,
        "dimensions": {"surname": {"stringValue": "Doe"}},
        "tags": {"name": {"stringValue": "John"}},
    })
    assert res == {"completedSuccessfully": True}
    out = grpc_client.execute_sql("db", "ns", "select * from people limit 1")
    assert out["completedSuccessfully"] is True
    [record] = out["records"]
    assert record["timestamp"] == 4 and record["longValue"] == 3
    assert record["dimensions"]["surname"] == {"stringValue": "Doe"}
    assert record["tags"]["name"] == {"stringValue": "John"}


def test_grpc_execute_sql_select_group_by(engine, grpc_client):
    load(engine, "people", LONG_METRIC)
    out = grpc_client.execute_sql(
        "default", "default", "select sum(value) from people group by name")
    assert out["completedSuccessfully"] is True
    got = {b["tags"]["name"]["stringValue"]: b["longValue"] for b in out["records"]}
    assert got == {"John": 3, "J": 3, "Bill": 4, "Frank": 5, "Frankie": 6}


def test_grpc_execute_sql_parse_failure_shape(grpc_client):
    out = grpc_client.execute_sql("default", "default", "selct nope")
    assert not out.get("completedSuccessfully", False)  # proto3 default absent
    assert out["reason"] == "sql statement not valid"
    assert out.get("message")



def test_grpc_integer_literal_outside_64_bits_is_not_valid(engine, grpc_client):
    """An integer literal no signed 64-bit long holds is rejected as an
    invalid statement, not failed inside execution."""
    load(engine, "aggregationLongMetric", AGG_LONG_METRIC)
    out = grpc_client.execute_sql(
        "default", "default",
        "select * from aggregationLongMetric where age < 100000000000000000000 limit 100",
    )
    assert not out.get("completedSuccessfully", False)
    assert out["reason"] == "sql statement not valid"


def test_grpc_execute_sql_missing_metric_reason(grpc_client):
    out = grpc_client.execute_sql("default", "default", "select * from ghost limit 1")
    assert not out.get("completedSuccessfully", False) and out.get("reason")


def test_grpc_show_namespaces_and_metrics(engine, grpc_client):
    load(engine, "people", LONG_METRIC)
    ns = grpc_client.show_namespaces("default")
    assert ns["completedSuccessfully"] is True and "default" in ns["namespaces"]
    mg = grpc_client.show_metrics("default", "default")
    assert mg["metrics"] == ["people"]


def test_grpc_describe_metric(engine, grpc_client):
    load(engine, "people", LONG_METRIC)
    out = grpc_client.describe_metric("default", "default", "people")
    assert out["completedSuccessfully"] is True
    fields = {f["name"]: f for f in out["fields"]}
    # TIMESTAMP enum value is 0 → absent on the wire (proto3 default)
    assert fields["timestamp"].get("fieldClassType", 0) == proto.FIELD_CLASS_TYPE["TIMESTAMP"]
    assert fields["value"]["fieldClassType"] == proto.FIELD_CLASS_TYPE["VALUE"]
    assert fields["surname"]["fieldClassType"] == proto.FIELD_CLASS_TYPE["DIMENSION"]
    assert fields["name"]["fieldClassType"] == proto.FIELD_CLASS_TYPE["TAG"]
    assert out["metricInfo"]["shardInterval"] > 0


def test_grpc_init_metric_duration_strings(engine, grpc_client):
    out = grpc_client.init_metric("db", "ns", "m", shard_interval="1d", retention="2h")
    assert out["completedSuccessfully"] is True
    info = engine.warehouse.get_info("db", "ns", "m")
    assert info == {"shardInterval": 86_400_000, "retention": 7_200_000}


def test_grpc_restore_bundle(engine, grpc_client, tmp_path):
    load(engine, "people", LONG_METRIC)
    bundle = str(tmp_path / "people_bundle")
    engine.dump_metric_bundle("default", "default", "people", bundle)
    engine.execute("drop metric people")
    out = grpc_client.restore(bundle)
    assert out["completedSuccessfully"] is True, out
    back = grpc_client.execute_sql("default", "default", "select count(*) from people")
    assert back["records"][0]["longValue"] == len(LONG_METRIC)


def test_grpc_unimplemented_method_status(grpc_server):
    client = NsdbGrpcClient(grpc_server.host, grpc_server.port)
    try:
        with pytest.raises(GrpcError) as exc:
            client.call("/io.radicalbit.nsdb.rpc.NSDBServiceSQL/NoSuchRpc",
                        proto.HEALTH_CHECK_REQUEST, proto.HEALTH_CHECK_RESPONSE, {})
        assert exc.value.code == 12  # UNIMPLEMENTED
    finally:
        client.close()


def test_grpc_auth_interceptor_parity(engine):
    from nsdb_spark.security import AuthorizationResponse, NSDbAuthorizationProvider

    class DenyNs(NSDbAuthorizationProvider):
        def check_metric_auth(self, db, namespace, metric, payload, write):
            if payload != "Bearer good":
                return AuthorizationResponse(False, "bad token")
            return AuthorizationResponse(True)

    server = serve_grpc(engine, port=0, auth=DenyNs())
    try:
        # empty token → UNAUTHENTICATED(16), GrpcAuthInterceptor.scala:61-63
        anon = NsdbGrpcClient(server.host, server.port)
        with pytest.raises(GrpcError) as exc:
            anon.execute_sql("default", "default", "select * from people limit 1")
        assert exc.value.code == 16
        anon.close()
        # wrong token → PERMISSION_DENIED(7)
        bad = NsdbGrpcClient(server.host, server.port,
                             metadata=[("authorization", "Bearer bad")])
        with pytest.raises(GrpcError) as exc:
            bad.execute_sql("default", "default", "select * from people limit 1")
        assert exc.value.code == 7
        bad.close()
        # good token reaches the engine (metric missing → in-band failure)
        good = NsdbGrpcClient(server.host, server.port,
                              metadata=[("authorization", "Bearer good")])
        out = good.execute_sql("default", "default", "select * from people limit 1")
        assert not out.get("completedSuccessfully", False)
        good.close()
    finally:
        server.stop()


def test_grpc_stream_sql_subscribe_then_live_push(engine, grpc_server, grpc_client):
    load(engine, "people", LONG_METRIC)
    _, next_msg, cancel = grpc_client.stream_sql(
        "default", "default", "select * from people where value >= 4")
    first = next_msg(timeout=30.0)
    sub = first.get("subscribedByQueryString")
    assert sub is not None and sub.get("quid")
    historical = {b["longValue"] for b in sub.get("records", [])}
    assert historical == {4, 5, 6}
    # a matching insert through the same server must arrive as RecordsPublished
    grpc_client.insert_bit({
        "database": "default", "namespace": "default", "metric": "people",
        "timestamp": 99, "longValue": 9,
        "tags": {"name": {"stringValue": "Zed"}},
    })
    push = next_msg(timeout=30.0)
    pub = push.get("recordsPublished")
    assert pub is not None and pub["quid"] == sub["quid"]
    assert [b["longValue"] for b in pub["records"]] == [9]
    # a non-matching insert (value < 4) must NOT be pushed
    grpc_client.insert_bit({
        "database": "default", "namespace": "default", "metric": "people",
        "timestamp": 100, "longValue": 1,
    })
    with pytest.raises(TimeoutError):
        next_msg(timeout=1.0)
    cancel()
    deadline = time.time() + 10
    while grpc_server.subs.subs and time.time() < deadline:
        time.sleep(0.05)
    assert not grpc_server.subs.subs  # unsubscribed on RST_STREAM


def test_grpc_stream_buffer_stops_at_cap_while_peer_stalls(
    engine, grpc_server, grpc_client, monkeypatch
):
    """A subscriber that stops reading blocks the server's send on HTTP/2
    flow control; live pushes meanwhile stop at the subscription
    channel's cap (new batches dropped), as on the HTTP long-poll path."""
    import threading

    from nsdb_spark.grpc.server import NsdbGrpcServer
    from nsdb_spark.streaming.subscribe import SubscriptionChannel

    load(engine, "people", LONG_METRIC)
    cap = 5
    monkeypatch.setattr(SubscriptionChannel, "MAX_BATCHES", cap)
    stalled, release = threading.Event(), threading.Event()
    orig = NsdbGrpcServer._send_stream_msg
    sent = []

    def send(self, conn, stream, msg):
        if sent:  # every send after the historical payload stalls
            stalled.set()
            release.wait(60)
        sent.append(msg)
        orig(self, conn, stream, msg)

    monkeypatch.setattr(NsdbGrpcServer, "_send_stream_msg", send)
    _, next_msg, cancel = grpc_client.stream_sql(
        "default", "default", "select * from people")
    try:
        assert next_msg(timeout=30.0).get("subscribedByQueryString") is not None
        subs = grpc_server.subs
        [sub] = subs.subs.values()
        row = {"timestamp": 100, "value": 1, "name": "x", "surname": "y"}
        subs.publish("default", "default", "people", [row])
        assert stalled.wait(30)
        for i in range(3 * cap):
            subs.publish("default", "default", "people", [dict(row, timestamp=200 + i)])
        buffered = len(sub.callback.__self__.batches)
        release.set()
        # once the peer reads again it gets the stalled batch, then the
        # first `cap` of the flood in one RecordsPublished; the rest were
        # dropped
        got = []
        while True:
            try:
                msg = next_msg(timeout=2.0)
            except TimeoutError:
                break
            got += [b["timestamp"] for b in msg["recordsPublished"]["records"]]
    finally:
        release.set()
        cancel()
    assert buffered == cap
    assert got == [100] + [200 + i for i in range(cap)]


def test_grpc_stream_sql_invalid_statement_fails_in_band(grpc_client):
    _, next_msg, cancel = grpc_client.stream_sql("default", "default", "selct x")
    msg = next_msg(timeout=30.0)
    failed = msg.get("subscriptionByQueryStringFailed")
    assert failed is not None and failed["queryString"] == "selct x"
    assert next_msg(timeout=10.0) is None  # stream closed cleanly


def test_grpc_concurrent_unary_calls_multiplexed(engine, grpc_client):
    """Several streams on ONE connection — HTTP/2 multiplexing."""
    import threading

    load(engine, "people", LONG_METRIC)
    results: list[dict] = []
    errors: list[Exception] = []

    def call():
        try:
            results.append(grpc_client.execute_sql(
                "default", "default", "select count(*) from people"))
        except Exception as ex:  # pragma: no cover
            errors.append(ex)

    threads = [threading.Thread(target=call) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not errors
    assert len(results) == 6
    assert all(r["records"][0]["longValue"] == len(LONG_METRIC) for r in results)


def test_fluent_grpc_client_roundtrip(engine, grpc_server):
    """NSDB.connect(host, port) parity — the scala-api's wire-backed
    builder DSL (NSDB.scala:109): write over InsertBit, read over
    executeSQLStatement, subscribe over streamSQL."""
    from nsdb_spark.api import connect

    client = connect(grpc_server.host, grpc_server.port).db("d").namespace("n")
    try:
        res = client.write(
            client.metric("temps").timestamp(1000).value(21.5)
            .dimension("city", "rome").tag("unit", "C")
        )
        assert res == {"completedSuccessfully": True}
        out = client.execute("select * from temps limit 5")
        assert out["completedSuccessfully"] is True
        [bit] = out["records"]
        assert bit["decimalValue"] == 21.5
        assert bit["dimensions"]["city"] == {"stringValue": "rome"}
        next_msg, cancel = client.subscribe("select * from temps")
        first = next_msg(timeout=30.0)
        assert first["subscribedByQueryString"]["records"][0]["decimalValue"] == 21.5
        client.write(client.metric("temps").timestamp(2000).value(25.0))
        push = next_msg(timeout=30.0)
        assert push["recordsPublished"]["records"][0]["decimalValue"] == 25.0
        cancel()
    finally:
        client.close()


def test_grpc_stream_sql_temporal_bucket_push(engine, grpc_server, grpc_client):
    """A temporal GROUP BY INTERVAL subscription over the WIRE: the
    historical payload arrives as SubscribedByQueryString, then a
    scheduler tick closes the (1000, 2000] bucket and the closed bucket
    arrives as RecordsPublished — the PublisherActor temporal push path
    (StreamActor → publisher), end-to-end through HTTP/2 framing."""
    from fixtures import load

    engine.now_fn = lambda: 1000
    # small shard: the temporal axis is the shard-aligned data extent, so
    # a 30-day default shard would make the historical payload ~2.6M
    # empty 1 s buckets (semantics-correct but not what this test pins)
    load(engine, "people", LONG_METRIC, shard_interval_ms=10_000)
    _, next_msg, cancel = grpc_client.stream_sql(
        "default", "default",
        "select count(*) from people group by interval 1 s since 10 s",
    )
    first = next_msg(timeout=30.0)
    assert first.get("subscribedByQueryString") is not None
    grpc_client.insert_bit({
        "database": "default", "namespace": "default", "metric": "people",
        "timestamp": 1500, "longValue": 1,
        "tags": {"name": {"stringValue": "X"}},
    })
    engine.now_fn = lambda: 2100
    grpc_server.subs.tick(2100)  # bucket (1000, 2000] closes
    push = next_msg(timeout=30.0)
    pub = push.get("recordsPublished")
    assert pub is not None
    [bit] = pub["records"]
    assert bit["longValue"] == 1  # count_value rides Bit.value
    dims = {**bit.get("dimensions", {}), **bit.get("tags", {})}
    assert proto.proto_value(dims["lower_bound"]) == 1000
    assert proto.proto_value(dims["upper_bound"]) == 2000
    cancel()


# ----------------------------------------------------- protocol negatives

def test_grpc_bad_preface_closes_connection(grpc_server):
    import socket

    s = socket.create_connection((grpc_server.host, grpc_server.port), timeout=10)
    s.sendall(b"GET / HTTP/1.1\r\nHost: x\r\n\r\n" + b"x" * 10)
    s.settimeout(10)
    try:
        data = s.recv(1024)
    except ConnectionError:
        data = b""  # RST is as good as FIN: the server refused the preface
    assert data == b""  # server closes without HTTP/2 frames
    s.close()


def test_grpc_ping_is_acked_and_unknown_frames_ignored(grpc_server):
    """Frame-level conformance: PING gets a PING-ack with the same
    payload; an unknown frame type must be ignored (RFC 7540 §4.1), and
    the connection keeps serving rpcs afterwards."""
    import socket
    import struct as st
    from nsdb_spark.grpc.http2 import Http2Connection, PREFACE, PING, FLAG_ACK

    sock = socket.create_connection((grpc_server.host, grpc_server.port), timeout=10)
    conn = Http2Connection(sock, is_server=False)
    sock.sendall(PREFACE)
    conn.send_settings({})
    conn.send_frame(0xFA, 0, 0, b"garbage-frame-type")  # must be ignored
    conn.send_frame(PING, 0, 0, b"12345678")
    deadline = 50
    got_ack = False
    for _ in range(deadline):
        ftype, flags, sid, payload = conn.read_frame()
        if ftype == PING and flags & FLAG_ACK:
            assert payload == b"12345678"
            got_ack = True
            break
    assert got_ack
    conn.close()


def test_grpc_compressed_flag_rejected_unimplemented(grpc_server):
    """A gRPC message with the compressed flag set (no grpc-encoding was
    negotiated) must answer UNIMPLEMENTED, not garbage-decode."""
    import struct as st
    from nsdb_spark.grpc import proto
    from nsdb_spark.grpc.client import NsdbGrpcClient, GrpcError

    client = NsdbGrpcClient(grpc_server.host, grpc_server.port)
    try:
        body = proto.encode(proto.HEALTH_CHECK_REQUEST, {})
        sid, stream = client._new_stream()
        client.conn.send_headers(sid, [
            (":method", "POST"), (":scheme", "http"),
            (":path", "/io.radicalbit.nsdb.rpc.Health/Check"),
            (":authority", client.authority),
            ("content-type", "application/grpc"), ("te", "trailers"),
        ])
        client.conn.send_data(
            sid, b"\x01" + st.pack(">I", len(body)) + body, end_stream=True
        )
        with pytest.raises(GrpcError) as exc:
            msg = stream.read_message(timeout=15.0)
            if msg is None:
                client._check_trailers(stream)
        assert exc.value.code == 12  # UNIMPLEMENTED
    finally:
        client.close()


def test_hpack_integer_overflow_rejected():
    from nsdb_spark.grpc import hpack

    dec = hpack.Decoder()
    bomb = bytes([0x1F] + [0xFF] * 8 + [0x7F])  # >35-bit continuation
    with pytest.raises(hpack.HpackError):
        dec.decode(bomb)


def test_hpack_index_beyond_tables_rejected():
    from nsdb_spark.grpc import hpack

    dec = hpack.Decoder()
    with pytest.raises(hpack.HpackError):
        dec.decode(bytes([0x80 | 0x7F, 0x10]))  # indexed field ~index 143


def test_grpc_unary_after_stream_cancel_same_connection(engine, grpc_client):
    """RST_STREAM on a streaming rpc must not poison the connection:
    a fresh unary call on the SAME connection still works."""
    load(engine, "people", LONG_METRIC)
    _, next_msg, cancel = grpc_client.stream_sql(
        "default", "default", "select * from people")
    assert next_msg(timeout=30.0) is not None
    cancel()
    out = grpc_client.execute_sql("default", "default",
                                  "select count(*) from people")
    assert out["records"][0]["longValue"] == len(LONG_METRIC)


def test_grpc_stream_refresh_period_batches_pushes(engine):
    """Two rapid matching inserts inside one refresh period arrive as a
    SINGLE combined RecordsPublished (StreamActor publish-cycle parity),
    not two messages."""
    from nsdb_spark.streaming.subscribe import SubscriptionManager

    subs = SubscriptionManager(engine, refresh_period_ms=400)
    server = serve_grpc(engine, port=0, subscriptions=subs)
    client = NsdbGrpcClient(server.host, server.port)
    try:
        load(engine, "people", LONG_METRIC)
        _, next_msg, cancel = client.stream_sql(
            "default", "default", "select * from people")
        assert next_msg(timeout=30.0).get("subscribedByQueryString")
        # two back-to-back publisher batches (engine writes would take
        # ~1 s each and leave the refresh window between them)
        for ts in (100, 101):
            subs.publish("default", "default", "people",
                         [{"timestamp": ts, "value": 7,
                           "name": "X", "surname": "Y"}])
        push = next_msg(timeout=30.0)
        pub = push.get("recordsPublished")
        assert pub is not None
        assert sorted(b["timestamp"] for b in pub["records"]) == [100, 101]
        cancel()
    finally:
        client.close()
        server.stop()


def test_grpc_flow_control_small_client_window(engine, grpc_server):
    """Backpressure: the client advertises a small INITIAL_WINDOW_SIZE,
    so a multi-KB response can only flow as the client grants
    WINDOW_UPDATEs — the server must block-and-resume, not overrun or
    deadlock."""
    from nsdb_spark.grpc.http2 import SETTINGS_INITIAL_WINDOW_SIZE

    load(engine, "people", LONG_METRIC)
    client = NsdbGrpcClient(grpc_server.host, grpc_server.port)
    try:
        # shrink what the SERVER may send per stream before updates
        client.conn.send_settings({SETTINGS_INITIAL_WINDOW_SIZE: 512})
        out = client.execute_sql(
            "default", "default", "select * from people")
        assert out["completedSuccessfully"] is True
        assert len(out["records"]) == len(LONG_METRIC)
    finally:
        client.close()


def test_hpack_dynamic_table_eviction_on_size_update():
    """RFC 7541 §4.3: a table-size update to 0 evicts everything; the
    next indexed reference into the dynamic range must fail cleanly."""
    from nsdb_spark.grpc import hpack

    dec = hpack.Decoder()
    dec.decode(bytes.fromhex("400a637573746f6d2d6b65790d637573746f6d2d686561646572"))
    assert dec.table
    dec.decode(bytes([0x20]))  # size update → 0
    assert not dec.table and dec.size == 0
    with pytest.raises(hpack.HpackError):
        dec.decode(bytes([0x80 | 62]))  # first dynamic index now invalid


# -------------------------------------------------- round-6 hardening


def test_peer_header_table_size_does_not_raise_decoder_cap(grpc_server):
    """RFC 7541 §4.2: a peer's SETTINGS_HEADER_TABLE_SIZE constrains the
    peer-facing ENCODER, never our decoder. A peer announcing a huge (or
    tiny) value must not move the server decoder's memory cap — a
    size-update within our advertised 4096 stays valid either way."""
    import socket
    import struct as st
    from nsdb_spark.grpc.http2 import (
        Http2Connection, PREFACE, PING, FLAG_ACK, SETTINGS_HEADER_TABLE_SIZE,
    )

    sock = socket.create_connection((grpc_server.host, grpc_server.port), timeout=10)
    conn = Http2Connection(sock, is_server=False)
    sock.sendall(PREFACE)
    # announce a 16 MiB header table (attack: raise server memory cap),
    # then a 0-byte one (attack: force COMPRESSION_ERROR on size updates)
    conn.send_settings({SETTINGS_HEADER_TABLE_SIZE: 16 * 1024 * 1024})
    conn.send_settings({SETTINGS_HEADER_TABLE_SIZE: 0})
    conn.send_frame(PING, 0, 0, b"settleok")
    alive = False
    for _ in range(50):
        ftype, flags, sid, payload = conn.read_frame()
        if ftype == PING and flags & FLAG_ACK:
            alive = True
            break
    assert alive
    conn.close()


def test_data_flood_on_unary_stream_is_bounded(grpc_server, monkeypatch):
    """A client streaming unbounded DATA on a unary stream (whose handler
    reads exactly one message) must not grow server memory without limit:
    past the buffer cap the server stops granting stream WINDOW_UPDATEs
    and RSTs a flow-control violator — and keeps serving the connection."""
    import socket
    import struct as st
    from nsdb_spark.grpc import http2 as h2

    monkeypatch.setattr(h2, "MAX_BUFFERED_BODY", 8192)
    sock = socket.create_connection((grpc_server.host, grpc_server.port), timeout=10)
    conn = h2.Http2Connection(sock, is_server=False)
    sock.sendall(h2.PREFACE)
    conn.send_settings({})
    sid = 1
    conn.send_headers(sid, [
        (":method", "POST"), (":scheme", "http"),
        (":path", "/io.radicalbit.nsdb.rpc.NSDBServiceSQL/ExecuteSQLStatement"),
        (":authority", "t"), ("content-type", "application/grpc"),
        ("te", "trailers"),
    ])
    # flood: valid length-prefixed garbage messages, way past the 8 KiB cap
    chunk = b"\x00" + st.pack(">I", 1024) + b"z" * 1024
    grants = 0
    rst = False
    import threading
    def pump():
        nonlocal grants, rst
        try:
            while True:
                ftype, flags, fsid, payload = conn.read_frame()
                if ftype == h2.WINDOW_UPDATE and fsid == sid:
                    grants += st.unpack(">I", payload)[0] & 0x7FFFFFFF
                if ftype == h2.RST_STREAM and fsid == sid:
                    rst = True
                    return
        except Exception:
            pass
    t = threading.Thread(target=pump, daemon=True)
    t.start()
    sent = 0
    try:
        for _ in range(256):  # 256 KiB total, 32x the cap
            conn.send_frame(h2.DATA, 0, sid, chunk)
            sent += len(chunk)
    except (ConnectionError, OSError):
        pass  # server may RST/close mid-flood — that's the defense working
    t.join(timeout=10)
    # stream window grants must stop at the cap (plus the initial 64 KiB
    # window the flood rode in on); a violator gets RST_STREAM
    assert grants <= 8192 + 2 * h2.DEFAULT_WINDOW
    conn.close()


def test_grpc_message_percent_encodes_non_ascii():
    from nsdb_spark.grpc.server import NsdbGrpcServer

    enc = NsdbGrpcServer._grpc_message("métric ∉ catalog %50")
    assert all(0x20 <= ord(c) <= 0x7E for c in enc)
    from urllib.parse import unquote

    assert unquote(enc) == "métric ∉ catalog %50"


def test_grpc_unicode_error_message_reaches_client(grpc_server, grpc_client):
    """End-to-end: a handler error whose text carries non-latin-1
    characters must arrive as a decoded gRPC trailer error, not blow up
    inside the HPACK encoder and stall the client until timeout."""
    from nsdb_spark.grpc import proto
    from nsdb_spark.grpc.client import GrpcError

    path = "/io.radicalbit.nsdb.rpc.NSDBServiceCommand/describeMetric"
    req_desc, resp_desc, _handler, auth = grpc_server._unary[path]

    def boom(request):
        raise ValueError("métric ∉ catalog")

    grpc_server._unary[path] = (req_desc, resp_desc, boom, auth)
    try:
        with pytest.raises(GrpcError) as ei:
            grpc_client.call(
                path, proto.DESCRIBE_METRIC, proto.DESCRIBE_METRIC_RESPONSE,
                {"db": "default", "namespace": "default", "metric": "m"},
                timeout=10.0,
            )
        assert "métric ∉ catalog" in str(ei.value)
    finally:
        grpc_server._unary[path] = (req_desc, resp_desc, _handler, auth)


def test_continuation_flood_is_rejected(grpc_server):
    """h2spec-style: HEADERS without END_HEADERS followed by an unbounded
    CONTINUATION stream must tear the connection down (bounded memory),
    not accumulate forever."""
    import socket
    from nsdb_spark.grpc import http2 as h2

    sock = socket.create_connection((grpc_server.host, grpc_server.port), timeout=10)
    conn = h2.Http2Connection(sock, is_server=False)
    sock.sendall(h2.PREFACE)
    conn.send_settings({})
    block = conn.hpack_enc.encode([(":method", "POST"), (":path", "/x")])
    conn.send_frame(h2.HEADERS, 0, 1, block)  # no END_HEADERS
    closed = False
    try:
        for _ in range(64):  # 64 × 8 KiB = 512 KiB >> 64 KiB cap
            conn.send_frame(h2.CONTINUATION, 0, 1, b"\x00" * 8192)
    except (ConnectionError, OSError):
        closed = True
    if not closed:
        sock.settimeout(10)
        try:
            while True:
                if not sock.recv(4096):
                    closed = True
                    break
        except (ConnectionError, OSError, TimeoutError):
            closed = True
    assert closed
    conn.close()


def test_priority_and_settings_ack_misuse_do_not_disrupt(grpc_server):
    """h2spec-style: PRIORITY frames (incl. on stream 0) are ignored and a
    spurious SETTINGS ACK never deadlocks — the connection keeps serving."""
    import socket
    from nsdb_spark.grpc import http2 as h2

    sock = socket.create_connection((grpc_server.host, grpc_server.port), timeout=10)
    conn = h2.Http2Connection(sock, is_server=False)
    sock.sendall(h2.PREFACE)
    conn.send_settings({})
    conn.send_frame(h2.PRIORITY, 0, 0, b"\x00\x00\x00\x01\x10")  # misuse: sid 0
    conn.send_frame(h2.PRIORITY, 0, 3, b"\x00\x00\x00\x01\x10")
    conn.send_frame(h2.SETTINGS, h2.FLAG_ACK, 0, b"")  # unsolicited ack
    conn.send_frame(h2.PING, 0, 0, b"stillokk")
    alive = False
    for _ in range(50):
        ftype, flags, sid, payload = conn.read_frame()
        if ftype == h2.PING and flags & h2.FLAG_ACK and payload == b"stillokk":
            alive = True
            break
    assert alive
    conn.close()


def test_large_response_message_flows_past_buffer_cap(engine, monkeypatch):
    """A single gRPC message larger than MAX_BUFFERED_BODY must still flow:
    the in-flight-message exemption keeps replenishing while the buffer
    holds no complete message (the first cap implementation deadlocked
    any response > cap + one window)."""
    from nsdb_spark.grpc import http2 as h2
    from nsdb_spark.grpc import serve_grpc, NsdbGrpcClient
    from nsdb_spark.model import Bit

    monkeypatch.setattr(h2, "MAX_BUFFERED_BODY", 8192)
    load(engine, "bigresp", [
        Bit(t, t, {"pad": "x" * 200}, {"g": f"t{t % 7}"}) for t in range(500)
    ])
    server = serve_grpc(engine, port=0)
    client = NsdbGrpcClient(server.host, server.port)
    try:
        out = client.execute_sql("default", "default", "select * from bigresp")
        assert out["completedSuccessfully"] is True
        assert len(out["records"]) == 500  # well past the 8 KiB cap
    finally:
        client.close()
        server.stop()


def test_withheld_window_repaid_on_drain(monkeypatch):
    """Backpressure must be temporary: once read_message drains a buffer
    that had crossed the cap, the withheld stream-window bytes are granted
    back (a consumer that fell behind un-stalls its peer)."""
    import socket
    import struct as st
    import threading
    from nsdb_spark.grpc import http2 as h2

    monkeypatch.setattr(h2, "MAX_BUFFERED_BODY", 1000)
    a, b = socket.socketpair()
    conn = h2.Http2Connection(a, is_server=True)
    stream = conn.get_stream(1)
    # feed complete 300-byte gRPC messages until well over the 1000-byte cap
    msg = b"\x00" + st.pack(">I", 295) + b"m" * 295
    withheld_before = None
    for _ in range(6):  # 1800 bytes buffered
        conn.handle_frame(h2.DATA, 0, 1, msg, lambda *x: None)
    assert stream.withheld > 0  # cap crossed with complete messages buffered
    withheld_before = stream.withheld
    # drain below the cap: repayment must hit the wire as WINDOW_UPDATEs
    got = []
    done = threading.Event()
    total_fed = 6 * len(msg)
    def reader():
        peer_sock = b
        peer_sock.settimeout(5)
        buf = b""
        try:
            while sum(got) < total_fed:
                hdr = peer_sock.recv(9)
                if len(hdr) < 9:
                    return
                ln = int.from_bytes(hdr[:3], "big")
                ftype, sid = hdr[3], int.from_bytes(hdr[5:9], "big") & 0x7FFFFFFF
                payload = b""
                while len(payload) < ln:
                    payload += peer_sock.recv(ln - len(payload))
                if ftype == h2.WINDOW_UPDATE and sid == 1:
                    got.append(st.unpack(">I", payload)[0] & 0x7FFFFFFF)
            done.set()
        except Exception:
            pass
    t = threading.Thread(target=reader, daemon=True)
    t.start()
    # drain everything: the repay fires once the buffer falls below cap
    for _ in range(6):
        assert stream.read_message(timeout=1) is not None
    assert done.wait(5), (got, withheld_before)
    # every fed byte is eventually granted back: 3 immediate replenishes
    # + the withheld remainder repaid on drain
    assert sum(got) == total_fed
    assert stream.withheld == 0
    a.close(); b.close()


def test_partial_message_behind_unread_small_one_keeps_flowing(monkeypatch):
    """The in-flight-message exemption must look at the TAIL of the
    buffer, not just the first message: on a streaming RPC a legitimate
    larger-than-cap message arriving behind one small unread message
    must keep receiving stream-window grants while in flight — not be
    withheld or RST as a flooder (round-6 ADVICE finding)."""
    import socket
    import struct as st
    from nsdb_spark.grpc import http2 as h2

    monkeypatch.setattr(h2, "MAX_BUFFERED_BODY", 1000)
    a, b = socket.socketpair()
    conn = h2.Http2Connection(a, is_server=True)
    stream = conn.get_stream(1)
    # one small COMPLETE message the handler hasn't read yet...
    small = b"\x00" + st.pack(">I", 10) + b"s" * 10
    conn.handle_frame(h2.DATA, 0, 1, small, lambda *x: None)
    # ...then one 5000-byte message streamed in 500-byte DATA frames —
    # the buffer crosses the cap many frames before the message completes
    big_len = 5000
    payload = b"B" * big_len
    frames = [b"\x00" + st.pack(">I", big_len) + payload[:495]]
    frames += [payload[i:i + 500] for i in range(495, big_len, 500)]
    for fr in frames[:-1]:
        conn.handle_frame(h2.DATA, 0, 1, fr, lambda *x: None)
    # in flight: every frame replenished despite buffered >> cap
    assert not stream.reset and stream.withheld == 0
    conn.handle_frame(h2.DATA, 0, 1, frames[-1], lambda *x: None)
    assert not stream.reset  # completion over cap = backpressure, never RST
    assert stream.read_message(timeout=1) == b"s" * 10
    assert stream.read_message(timeout=1) == payload
    assert stream.withheld == 0  # drained: any withheld tail repaid
    a.close(); b.close()


def test_proto_decode_fuzz_controlled_errors():
    """Arbitrary bytes into the proto3 decoder either parse or raise
    ValueError (incl. UnicodeDecodeError) — never struct.error,
    IndexError, or anything the server's malformed-request mapping
    (GRPC_INVALID_ARGUMENT) wouldn't catch."""
    import random

    from nsdb_spark.grpc import proto

    rng = random.Random(711)
    descs = [proto.SQL_REQUEST_STATEMENT, proto.RPC_INSERT, proto.HEALTH_CHECK_RESPONSE]
    for trial in range(4000):
        n = rng.randrange(0, 40)
        data = bytes(rng.randrange(256) for _ in range(n))
        try:
            out = proto.decode(descs[trial % len(descs)], data)
            assert isinstance(out, dict)
        except ValueError:
            pass  # includes UnicodeDecodeError


def test_malformed_request_returns_invalid_argument(grpc_server):
    """A syntactically broken request message must come back as gRPC
    INVALID_ARGUMENT (3) with the connection still serving, not UNKNOWN
    and not a wedged stream."""
    import socket
    import struct as st
    from nsdb_spark.grpc import http2 as h2

    sock = socket.create_connection((grpc_server.host, grpc_server.port), timeout=10)
    conn = h2.Http2Connection(sock, is_server=False)
    sock.sendall(h2.PREFACE)
    conn.send_settings({})
    sid = 1
    conn.send_headers(sid, [
        (":method", "POST"), (":scheme", "http"),
        (":path", "/io.radicalbit.nsdb.rpc.NSDBServiceSQL/executeSQLStatement"),
        (":authority", "t"), ("content-type", "application/grpc"),
        ("te", "trailers"),
    ])
    # field 1 (db), wire type 2, declared length 200 but only 3 bytes
    bad = bytes([0x0A, 200]) + b"abc"
    conn.send_frame(h2.DATA, h2.FLAG_END_STREAM, sid,
                    b"\x00" + st.pack(">I", len(bad)) + bad)
    status = None
    deadline = 50
    while deadline:
        deadline -= 1
        ftype, flags, fsid, payload = conn.read_frame()
        if ftype == h2.HEADERS and fsid == sid:
            hdrs = dict(conn.hpack_dec.decode(payload))
            if "grpc-status" in hdrs:
                status = int(hdrs["grpc-status"])
                break
    assert status == 3  # INVALID_ARGUMENT
    conn.close()
