"""Correctness checks: program outputs against DuckDB over the same generated
rows. Every check returns a list of mismatch descriptions (empty = correct).
"""
from __future__ import annotations

import math
import os
from collections import Counter

import duckdb
import pyarrow as pa

ROW_COLS = ("timestamp", "value", "event_id", "event_type", "props", "user_id")


def connect(events: pa.Table) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.register("events", events)
    return con


def connect_dir(path: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with an `events` view over `<path>/events.parquet` (the
    registry's raw table, as its oracle SQL expects)."""
    con = duckdb.connect()
    con.execute(f"create view events as select * from '{os.path.join(path, 'events.parquet')}'")
    return con


def _close(a, b) -> bool:
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)


def _row_key(r: dict) -> tuple:
    return tuple(r.get(c) for c in ROW_COLS)


def check_plain(con, stmt: dict, rows: list[dict]) -> list[str]:
    """LIMIT k without ORDER BY: any k matching rows are a right answer, so
    the response must hold min(k, matches) rows, each a matching row."""
    exp = con.execute(
        f"select {', '.join(ROW_COLS)} from events "
        f"where timestamp >= {stmt['lo']} and timestamp < {stmt['hi']}"
    ).fetchall()
    want = min(stmt["limit"], len(exp))
    got = Counter(_row_key(r) for r in rows)
    if sum(got.values()) != want:
        return [f"{stmt['sql']}: {sum(got.values())} rows, expected {want}"]
    missing = got - Counter(exp)
    return [f"{stmt['sql']}: rows not in range {list(missing)[:2]}"] if missing else []


def check_tag(con, stmt: dict, rows: list[dict]) -> list[str]:
    exp = dict(con.execute(
        f"select event_type, {stmt['agg']} from events where timestamp >= {stmt['lo']} "
        f"and timestamp < {stmt['hi']} group by event_type"
    ).fetchall())
    got = {r.get("event_type"): r.get("value") for r in rows}
    if set(got) != set(exp) or any(not _close(got[k], exp[k]) for k in exp):
        return [f"{stmt['sql']}: {sorted(got.items())} != {sorted(exp.items())}"]
    return []


def check_global(con, stmt: dict, rows: list[dict]) -> list[str]:
    (exp,) = con.execute(
        f"select count(*) from events where timestamp >= {stmt['lo']} "
        f"and timestamp < {stmt['hi']}"
    ).fetchone()
    got = rows[0].get("value") if len(rows) == 1 else None
    return [] if got is not None and _close(got, exp) else [f"{stmt['sql']}: {rows} != {exp}"]


def check_buckets(con, sql: str, rows: list[dict], lo: int | None, hi: int | None,
                  agg: str = "count(*)") -> list[str]:
    """Temporal aggregate: every returned bucket (lower_bound, upper_bound]
    holds the aggregate of the matching rows inside it."""
    if not rows:
        return []
    if any(r.get("lower_bound") is None or r.get("upper_bound") is None for r in rows):
        return [f"{sql}: bucket without bounds {rows[:2]}"]
    cond = []
    if lo is not None:
        cond.append(f"e.timestamp >= {lo}")
    if hi is not None:
        cond.append(f"e.timestamp < {hi}")
    buckets = ", ".join(f"({r['lower_bound']}, {r['upper_bound']}, {i})"
                        for i, r in enumerate(rows))
    # over the outer join an empty bucket holds one all-null row: count a
    # column, not rows
    fn = agg.split("(")[0]
    expr = f"{fn}(e.timestamp)" if agg == "count(*)" else f"{fn}(e.value)"
    exp = con.execute(
        f"select b.i, coalesce({expr}, 0) "
        f"from (values {buckets}) b(lo, hi, i) left join events e "
        f"on e.timestamp > b.lo and e.timestamp <= b.hi "
        f"{''.join(' and ' + c for c in cond)} group by b.i order by b.i"
    ).fetchall()
    errs = [f"{sql}: bucket ({r['lower_bound']}, {r['upper_bound']}] = {r.get('value')}, "
            f"expected {e}" for r, (_i, e) in zip(rows, exp)
            if not _close(r.get("value", 0), e)]
    return errs[:3]


def check_statement(con, stmt: dict, rows: list[dict]) -> list[str]:
    kind = stmt["kind"]
    if kind == "plain":
        return check_plain(con, stmt, rows)
    if kind == "tag":
        return check_tag(con, stmt, rows)
    if kind == "global":
        return check_global(con, stmt, rows)
    if kind == "temporal":
        errs = check_buckets(con, stmt["sql"], rows, stmt["lo"], stmt["hi"])
        (total,) = con.execute(
            f"select count(*) from events where timestamp >= {stmt['lo']} "
            f"and timestamp < {stmt['hi']}").fetchone()
        got = sum(r.get("value", 0) for r in rows)
        if got != total:
            errs.append(f"{stmt['sql']}: bucket counts sum to {got}, expected {total}")
        return errs
    raise ValueError(f"unknown statement kind {kind}")


# ------------------------------------------------------------ analytics_batch
def _canon(v):
    if v is None:
        return "None"
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, (int, float)):
        f = float(v)
        return "NaN" if math.isnan(f) else f"{f:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return repr(v)


def canonical(columns: list[str], rows: list[list]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, values canonicalised, rows sorted (the
    order-insensitive comparison the registry's oracle gate uses)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(tuple(_canon(r[i]) for i in order) for r in rows)
    return [columns[i] for i in order], out


def check_entry(con, name: str, oracle_sql: str, result: dict) -> list[str]:
    cur = con.execute(oracle_sql)
    ocols = [d[0] for d in cur.description]
    orows = [list(r) for r in cur.fetchall()]
    scols, srows = canonical(result["columns"], result["rows"])
    ocols, orows = canonical(ocols, orows)
    if scols != ocols:
        return [f"{name}: columns {scols} != {ocols}"]
    if srows != orows:
        diff = sorted(set(srows) ^ set(orows))[:2]
        return [f"{name}: {len(srows)} rows vs {len(orows)} expected; e.g. {diff}"]
    return []
