"""CLI REPL tests — scripted stdin/stdout sessions (the reference's
nsdb-cli ASCIITableBuilderSpec analog)."""
import io
import re

from nsdb_spark.cli import ascii_table, repl


def test_ascii_table_shape():
    t = ascii_table(["a", "bb"], [[1, "xy"], [22, None]])
    lines = t.splitlines()
    assert lines[0] == "+----+----+"
    assert lines[1] == "| a  | bb |"
    assert lines[2] == "+====+====+"
    assert lines[3] == "| 1  | xy |"
    assert lines[4] == "| 22 |    |"


def test_repl_session(engine):
    script = "\n".join([
        "db mydb",
        "use sensors",
        "insert into temps ts = 1000 dim (city = rome) tags (kind = out) val = 21.5",
        "insert into temps ts = 2000 dim (city = milan) tags (kind = out) val = 30.0",
        "select * from temps order by timestamp",
        "show metrics",
        "describe temps",
        "select * frm temps",
        "exit",
    ]) + "\n"
    out = io.StringIO()
    repl(engine, stdin=io.StringIO(script), stdout=out)
    text = out.getvalue()
    assert "Database changed to mydb" in text
    assert "Namespace changed to sensors" in text
    assert "| 1000      | 21.5  | rome  | out  |" in text
    assert "(2 rows)" in text
    assert "temps" in text
    assert "| value     | DECIMAL | value     |" in text
    assert "error: SQLParseError" in text


def test_repl_type_conflict_matches_reference(engine):
    # val = 30 types as BIGINT and Schema.union rejects the conflict with
    # the DECIMAL schema (Schema.scala:116-129 parity)
    script = "\n".join([
        "insert into m ts = 1 tags (k = a) val = 1.5",
        "insert into m ts = 2 tags (k = a) val = 30",
        "exit",
    ]) + "\n"
    out = io.StringIO()
    repl(engine, stdin=io.StringIO(script), stdout=out)
    assert "SchemaError: value type mismatch: DECIMAL vs BIGINT" in out.getvalue()


def test_repl_explain(engine):
    script = "\n".join([
        "insert into m ts = 1000 tags (g = x) val = 1.0",
        "insert into m ts = 2000 tags (g = y) val = 2.0",
        "explain select * from m where timestamp >= 1500",
        "explain select count(*) from m where timestamp >= 1500",
        "explain drop metric m",
        "exit",
    ]) + "\n"
    out = io.StringIO()
    repl(engine, stdin=io.StringIO(script), stdout=out)
    text = out.getvalue()
    assert "ParsedSimpleQuery" in text
    assert "shards_scanned" in text
    # the route column: a LIMIT-less scan plans on the analytics session,
    # a shard-pruned aggregate is read from the shard files
    assert re.search(r"route\s*\|\s*analytics", text)
    assert re.search(r"route\s*\|\s*files", text)
    # plan preview must not execute: no result table for the select
    assert "(1 rows)" not in text and "(2 rows)" not in text
    # non-SELECT explain surfaces the engine error, not a crash
    assert "error: ValueError" in text


def test_repl_dump_and_restore(engine, tmp_path):
    # NsdbRestore.scala's CLI surface: dump a metric, restore it under a
    # new name in the same session namespace, query both
    b = str(tmp_path / "bundle")
    script = "\n".join([
        "insert into temps ts = 1000 dim (city = rome) tags (kind = out) val = 21.5",
        "insert into temps ts = 2000 dim (city = milan) tags (kind = out) val = 30.0",
        f"dump temps {b}",
        f"restore {b} temps2",
        "select count(*) from temps2",
        f"restore {b}",   # existing target -> error surfaced, not crash
        "exit",
    ]) + "\n"
    out = io.StringIO()
    repl(engine, stdin=io.StringIO(script), stdout=out)
    text = out.getvalue()
    assert "Dumped default.default.temps" in text
    assert "Restored default.default.temps2" in text
    assert "| 2" in text
    assert "error: ValueError" in text and "already exists" in text


def test_repl_grpc_session(engine):
    """The gRPC-mode REPL drives a real wire server end-to-end — the
    reference console's shape (NsdbILoop → GRPCClient, no local engine
    on the client side)."""
    from nsdb_spark.cli import repl_grpc
    from nsdb_spark.grpc import NsdbGrpcClient, serve_grpc

    server = serve_grpc(engine, port=0)
    client = NsdbGrpcClient(server.host, server.port)
    try:
        script = "\n".join([
            "db mydb",
            "use sensors",
            "insert into temps ts = 1000 dim (city = rome) "
            "tags (kind = out) val = 21.5",
            "select * from temps order by timestamp",
            "show metrics",
            "describe temps",
            "select * frm temps",
            "exit",
        ]) + "\n"
        out = io.StringIO()
        repl_grpc(client, stdin=io.StringIO(script), stdout=out)
        text = out.getvalue()
        assert "Database changed to mydb" in text
        assert "rome" in text and "21.5" in text
        assert "temps" in text  # show metrics
        assert "| city " in text or "city" in text  # describe table
        assert "sql statement not valid" in text  # parse error, in-band
    finally:
        client.close()
        server.stop()
