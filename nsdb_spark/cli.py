"""Interactive REPL with ASCII result tables — the reference's CLI surface
(nsdb-cli/.../NsdbCli.scala + table/ASCIITableBuilder.scala), rebuilt over
the engine.

Usage:  python -m nsdb_spark.cli --warehouse /path/to/warehouse
Inside: `use <namespace>` / `db <database>` switch context; everything else
is parsed as an NSDb statement (SELECT/INSERT/DELETE/DROP/SHOW/DESCRIBE);
`exit` quits.
"""
from __future__ import annotations

import sys


def ascii_table(headers: list[str], rows: list[list], max_width: int = 100) -> str:
    """Reference-style bordered table (ASCIITableBuilder.scala:159)."""
    cells = [[str(v) if v is not None else "" for v in r] for r in rows]
    widths = [
        min(max(len(h), *(len(r[i]) for r in cells)) if cells else len(h), max_width)
        for i, h in enumerate(headers)
    ]
    def line(ch: str = "-") -> str:
        return "+" + "+".join(ch * (w + 2) for w in widths) + "+"
    def row(vals: list[str]) -> str:
        return "|" + "|".join(
            f" {v[:w]:<{w}} " for v, w in zip(vals, widths)
        ) + "|"
    out = [line(), row(headers), line("=")]
    out += [row(r) for r in cells]
    out.append(line())
    return "\n".join(out)


def format_result(result) -> str:
    """Render any engine.execute() result as text."""
    from pyspark.sql import DataFrame

    if isinstance(result, DataFrame):
        rows = result.collect()
        return ascii_table(result.columns, [list(r) for r in rows]) + f"\n({len(rows)} rows)"
    if isinstance(result, list) and result and isinstance(result[0], tuple):
        # DESCRIBE output: (name, type, fieldClass)
        return ascii_table(["field", "type", "class"], [list(t) for t in result])
    if isinstance(result, list):
        return "\n".join(str(x) for x in result) or "(empty)"
    if result is None:
        return "Ok"
    return str(result)


def repl(engine, stdin=None, stdout=None) -> None:
    stdin = stdin or sys.stdin
    stdout = stdout or sys.stdout
    db, ns = "default", "default"
    print("nsdb-spark CLI — `use <ns>`, `db <db>`, `exit`", file=stdout)
    for raw in stdin:
        line = raw.strip()
        if not line:
            continue
        if line.lower() in ("exit", "quit"):
            break
        try:
            if line.lower().startswith("db "):
                db = line.split(None, 1)[1]
                print(f"Database changed to {db}", file=stdout)
                continue
            if line.lower().startswith("use "):
                ns = line.split(None, 1)[1]
                print(f"Namespace changed to {ns}", file=stdout)
                continue
            if line.lower().startswith("dump "):
                # dump <metric> <dest-path> — NsdbRestore.scala's export
                # half, scoped to the session's db/namespace
                _, m, dest = line.split(None, 2)
                man = engine.dump_metric_bundle(db, ns, m, dest)
                print(
                    f"Dumped {db}.{ns}.{m}: {man['n_files']} files, "
                    f"{man['total_bytes']} bytes -> {dest}",
                    file=stdout,
                )
                continue
            if line.lower().startswith("restore "):
                # restore <bundle-path> [metric] — import under the
                # session db/namespace (metric defaults to the bundle's)
                parts = line.split(None, 2)
                man = engine.restore_metric_bundle(
                    parts[1], db=db, ns=ns,
                    metric=parts[2] if len(parts) > 2 else None,
                )
                print(
                    f"Restored {man['db']}.{man['namespace']}.{man['metric']} "
                    f"({man['n_files']} files)",
                    file=stdout,
                )
                continue
            if line.lower().startswith("explain "):
                # engine extension (no EXPLAIN in the reference dialect):
                # plan preview without execution
                info = engine.explain_select(
                    line.split(None, 1)[1], db=db, ns=ns
                )
                rows = [[k, info[k]] for k in
                        ("plan_class", "time_ranges", "shards_total",
                         "shards_scanned", "rollup_routed", "route")]
                print(ascii_table(["property", "value"], rows), file=stdout)
                print(info["physical_plan"], file=stdout)
                continue
            print(format_result(engine.execute(line, db=db, ns=ns)), file=stdout)
        except Exception as e:
            print(f"error: {type(e).__name__}: {e}", file=stdout)


def _bits_table(records: list[dict]) -> str:
    """Render proto Bit dicts (grpc.proto.BIT decode shape) as the same
    ASCII table the engine path prints."""
    from .grpc import proto

    def value_of(bit: dict):
        if "decimalValue" in bit:
            return bit["decimalValue"]
        if "longValue" in bit:
            return bit["longValue"]
        return None

    extra: list[str] = []
    for b in records:
        for k in sorted({**b.get("dimensions", {}), **b.get("tags", {})}):
            if k not in extra:
                extra.append(k)
    extra.sort()
    headers = ["timestamp", "value", *extra]
    rows = []
    for b in records:
        fields = {**b.get("dimensions", {}), **b.get("tags", {})}
        rows.append(
            [b.get("timestamp", 0), value_of(b)]
            + [
                proto.proto_value(fields[k]) if k in fields else None
                for k in extra
            ]
        )
    return ascii_table(headers, rows) + f"\n({len(records)} rows)"


def repl_grpc(client, stdin=None, stdout=None) -> None:
    """REPL over the gRPC WIRE client — the reference console's shape
    (nsdb-cli/.../NsdbILoop.scala drives GRPCClient.executeSQLStatement
    and the command RPCs; no local engine, no Spark session on the
    client side)."""
    stdin = stdin or sys.stdin
    stdout = stdout or sys.stdout
    db, ns = "default", "default"
    print("nsdb-spark CLI (gRPC) — `use <ns>`, `db <db>`, `exit`", file=stdout)
    for raw in stdin:
        line = raw.strip()
        if not line:
            continue
        low = line.lower()
        if low in ("exit", "quit"):
            break
        try:
            if low.startswith("db "):
                db = line.split(None, 1)[1]
                print(f"Database changed to {db}", file=stdout)
            elif low.startswith("use "):
                ns = line.split(None, 1)[1]
                print(f"Namespace changed to {ns}", file=stdout)
            elif low == "show namespaces":
                res = client.show_namespaces(db)
                print("\n".join(res.get("namespaces", [])) or "(empty)", file=stdout)
            elif low == "show metrics":
                res = client.show_metrics(db, ns)
                print("\n".join(res.get("metrics", [])) or "(empty)", file=stdout)
            elif low.startswith("describe "):
                res = client.describe_metric(db, ns, line.split(None, 1)[1])
                if not res.get("completedSuccessfully", False):
                    print(f"error: {res.get('errors', '')}", file=stdout)
                    continue
                names = {0: "timestamp", 1: "value", 2: "dimension", 3: "tag"}
                rows = [
                    [f["name"], f.get("indexType", ""),
                     names.get(f.get("fieldClassType", 0), "?")]
                    for f in res.get("fields", [])
                ]
                print(ascii_table(["field", "type", "class"], rows), file=stdout)
            else:
                res = client.execute_sql(db, ns, line)
                if res.get("completedSuccessfully", False):
                    recs = res.get("records", [])
                    print(_bits_table(recs) if recs else "Ok", file=stdout)
                else:
                    reason = res.get("reason", "")
                    msg = res.get("message", "")
                    print(f"error: {reason}{(' — ' + msg) if msg else ''}",
                          file=stdout)
        except Exception as e:
            print(f"error: {type(e).__name__}: {e}", file=stdout)


def main(argv: list[str] | None = None) -> None:
    import argparse

    ap = argparse.ArgumentParser(description="nsdb-spark interactive CLI")
    ap.add_argument("--warehouse", help="local engine mode: warehouse path")
    ap.add_argument(
        "--grpc", help="wire mode: HOST:PORT of a running nsdb gRPC endpoint"
    )
    ap.add_argument("--master", default="local[*]")
    args = ap.parse_args(argv)
    if bool(args.warehouse) == bool(args.grpc):
        ap.error("exactly one of --warehouse or --grpc is required")
    if args.grpc:
        from .grpc import NsdbGrpcClient

        host, _, port = args.grpc.rpartition(":")
        repl_grpc(NsdbGrpcClient(host or "127.0.0.1", int(port)))
        return

    from .engine import NsdbEngine
    from .session import tuned_builder

    spark = (
        tuned_builder(args.master, "nsdb-spark-cli")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    repl(NsdbEngine(spark, args.warehouse))


if __name__ == "__main__":
    main()
