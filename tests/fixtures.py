"""Golden fixture metrics mirroring FIXTURES.md (= the reference's
MockedData.scala tables). Helpers to load them into an NsdbEngine."""
from __future__ import annotations

import math

from nsdb_spark.model import Bit

# FIXTURES.md §1 — longMetric
LONG_METRIC = [
    Bit(1, 1, {"surname": "Doe"}, {"name": "John"}),
    Bit(2, 2, {"surname": "Doe"}, {"name": "John"}),
    Bit(4, 3, {"surname": ""}, {"name": "J"}),
    Bit(6, 4, {"surname": "Doe"}, {"name": "Bill"}),
    Bit(8, 5, {"surname": "Doe"}, {"name": "Frank"}),
    Bit(10, 6, {"surname": "Doe"}, {"name": "Frankie"}),
]

# FIXTURES.md §2 — doubleMetric
DOUBLE_METRIC = [
    Bit(2, 1.5, {"surname": "Doe"}, {"name": "John"}),
    Bit(4, 1.5, {"surname": "Doe"}, {"name": "John"}),
    Bit(6, 1.5, {"surname": "Doe"}, {"name": "Bill"}),
    Bit(8, 1.5, {"surname": "Doe"}, {"name": "Frank"}),
    Bit(10, 1.5, {"surname": "Doe"}, {"name": "Frankie"}),
]

# FIXTURES.md §3 — aggregationLongMetric (ts=8 row has no age → NULL)
AGG_LONG_METRIC = [
    Bit(2, 2, {"surname": "Doe"}, {"name": "John", "age": 15, "height": 30.5}),
    Bit(3, 2, {"surname": "Doe"}, {"name": "John", "age": 15, "height": 30.5}),
    Bit(4, 3, {"surname": "Doe"}, {"name": "John", "age": 20, "height": 30.5}),
    Bit(5, 3, {"surname": "Doe"}, {"name": "John", "age": 20, "height": 30.5}),
    Bit(6, 5, {"surname": "Doe"}, {"name": "Bill", "age": 15, "height": 31.0}),
    Bit(7, 5, {"surname": "Doe"}, {"name": "Bill", "age": 16, "height": 31.0}),
    Bit(8, 1, {"surname": "Doe"}, {"name": "Frank", "height": 32.0}),
    Bit(9, 1, {"surname": "Doe"}, {"name": "Frank", "age": 15, "height": 32.0}),
    Bit(10, 4, {"surname": "Doe"}, {"name": "Frankie", "age": 15, "height": 32.0}),
]

# FIXTURES.md §5 — negativeMetric
NEGATIVE_METRIC = [
    Bit(2, -2.0, {"surname": "Doe"}, {"name": "Bill", "age": -15, "height": -30.5}),
    Bit(3, -2.0, {"surname": "Doe"}, {"name": "John", "age": 15, "height": 30.5}),
    Bit(4, -3.0, {"surname": "Doe"}, {"name": "John", "age": -20, "height": -30.5}),
    Bit(5, -3.0, {"surname": "Doe"}, {"name": "John", "age": 20, "height": 30.5}),
    Bit(6, -5.0, {"surname": "Doe"}, {"name": "John", "age": -16, "height": -31.0}),
    Bit(7, -6.0, {"surname": "Doe"}, {"name": "Bill", "age": 17, "height": -31.0}),
    Bit(8, -1.0, {"surname": "Doe"}, {"name": "Frank", "age": -17, "height": 32.0}),
    Bit(9, -1.0, {"surname": "Doe"}, {"name": "Frank", "age": 18, "height": -32.0}),
    Bit(10, -4.0, {"surname": "Doe"}, {"name": "Frankie", "age": -18, "height": 32.0}),
]

# FIXTURES.md §6 — temporalLongMetric (30s spacing)
TEMPORAL_LONG_METRIC = [
    Bit(150000, 2, {"surname": "Doe"}, {"name": "John", "age": 15, "height": 30.5}),
    Bit(120000, 3, {"surname": "Doe"}, {"name": "John", "age": 20, "height": 30.5}),
    Bit(90000, 5, {"surname": "Doe"}, {"name": "John", "age": 15, "height": 30.5}),
    Bit(60000, 7, {"surname": "Doe"}, {"name": "Bill", "age": 15, "height": 31.0}),
    Bit(30000, 4, {"surname": "Doe"}, {"name": "Frank", "age": 15, "height": 32.0}),
    Bit(0, 1, {"surname": "Doe"}, {"name": "Frankie", "age": 15, "height": 32.0}),
]

# FIXTURES.md §8 — charsetMetric
CHARSET_METRIC = [
    Bit(150000, 2, {"textDimension": "Is this a question? Really"},
        {"textTag": "Is this a question? Really"}),
    Bit(120000, 3, {"textDimension": "Is this an empathized question?! Or not?"},
        {"textTag": "Is this an empathized question?! Or not?"}),
    Bit(90000, 5, {"textDimension": "Is this a double question??"},
        {"textTag": "Is this a double question??"}),
    Bit(60000, 7, {"textDimension": "a_:m?!-e"}, {"textTag": "a_:m?!-e"}),
    Bit(30000, 4, {"textDimension": "a_:m-e"}, {"textTag": "a_:m-e"}),
    Bit(0, 1, {"textDimension": "Doe"}, {"textTag": "John"}),
]


def load(engine, metric: str, bits, shard_interval_ms: int | None = None):
    if shard_interval_ms:
        engine.warehouse.init_metric("default", "default", metric, shard_interval_ms)
    engine.insert_bits("default", "default", metric, bits)
    return engine


# ------------------------------------------- aggregate file-route parity

_NAN = float("nan")


def _bit(t, value, **tags):
    """A bit whose tags given as None are absent (NULL on read)."""
    return Bit(t, value, {}, {k: v for k, v in tags.items() if v is not None})


def load_aggregate_parity(engine):
    """Two metrics over three 10 s shards for the aggregate file-route
    parity checks, each written in three batches (several files per
    shard), the first batch before the `late` tag existed (older files
    read it as NULL); timestamps are unique.

    aggm: DECIMAL values with NaN, -0.0 and 0.0; tags name (with NULLs),
    h (DECIMAL, with NaN, -0.0, 0.0 and NULLs) and late.
    aggl: BIGINT values with zeros, negatives and values past 32 bits;
    shard 10000's minimum is 0 and shard 20000's is not, so the 20 s
    bucket over both shows the zero-skipping temporal min."""
    names = ["a", "b", None, "c"]
    hs = [1.5, -0.0, 0.0, _NAN, None]
    values = [-2.0, -0.0, 0.0, 1.5, _NAN, 3.25, 0.0]
    longs = [5, 0, -3, 1 << 40, 7, -(1 << 35), 2]
    batches = [
        [(t, None) for t in range(0, 15000, 1000)],
        [(250 + 1500 * i, ["x", None, "y"][i % 3]) for i in range(20)],
        [(125 + 2300 * i, ["y", "x"][i % 2]) for i in range(13)],
    ]
    for metric in ("aggm", "aggl"):
        engine.warehouse.init_metric("default", "default", metric, 10000)
    j = 0  # the row number: the value and tag cycles run along it
    for batch in batches:
        rows = [(j + i, t, late) for i, (t, late) in enumerate(batch)]
        j += len(batch)
        engine.insert_bits("default", "default", "aggm", [
            _bit(t, values[i % 7], name=names[i % 4], h=hs[i % 5], late=late)
            for i, t, late in rows
        ])
        engine.insert_bits("default", "default", "aggl", [
            _bit(t, longs[i % 7] if t < 10000 else abs(longs[i % 7]) + (t >= 20000),
                 name=names[i % 4], late=late)
            for i, t, late in rows
        ])
    return engine


# ------------------------------------------------- point-read route parity


def column_route_rows(engine, stmt) -> list[tuple]:
    """Rows of `stmt` on the codegen-session Column pipeline: the point
    route forced off, so neither the serving session nor the shard-file
    read answers."""
    engine.invalidate_plan_caches()
    orig = engine._point_route
    engine._point_route = lambda *a, **k: False
    try:
        df, _, _ = engine._plan_select(stmt)
        assert df.sparkSession is engine.spark
        return [tuple(r) for r in df.collect()]
    finally:
        engine._point_route = orig
        engine.invalidate_plan_caches()


def file_served_rows(engine, stmt, time_context=None) -> list[tuple]:
    """Rows of collect_select(stmt) with Spark planning forbidden, so only
    the shard-file read (collect_select's "files" route) can answer."""

    def no_spark(*a, **k):
        raise AssertionError("planned through Spark")

    engine.invalidate_plan_caches()
    engine._plan_select = no_spark
    try:
        return [tuple(r) for r in engine.collect_select(stmt, time_context)]
    finally:
        del engine._plan_select
        engine.invalidate_plan_caches()


def same_cell(a, b) -> bool:
    """Two result cells are the same: the same Python type (Spark's
    collect types: int, float, str or None) and value, floats within rel
    1e-9, NaN equal to NaN."""
    if type(a) is not type(b):
        return False
    if isinstance(a, float):
        return (a != a and b != b) or math.isclose(a, b, rel_tol=1e-9)
    return a == b


def same_row(a: tuple, b: tuple) -> bool:
    return len(a) == len(b) and all(same_cell(x, y) for x, y in zip(a, b))


def assert_same_rows(got: list[tuple], want: list[tuple], label: str) -> None:
    """The same rows in the same order, cell by cell (same_cell)."""
    assert len(got) == len(want) and all(map(same_row, got, want)), (label, got, want)


def assert_limit_rows(got: list[tuple], every: list[tuple], k: int, label: str) -> None:
    """LIMIT k without a unique order: when k covers every match the rows
    are exactly the matches (as a multiset); otherwise any k of them. Rows
    match cell by cell (same_cell)."""
    left = list(every)
    for row in got:
        i = next((i for i, r in enumerate(left) if same_row(row, r)), None)
        assert i is not None, (label, row, every)
        del left[i]
    assert len(got) == min(k, len(every)), (label, got, every)


def assert_aggregate_file_route(engine, sql: str) -> None:
    """collect_select reads the aggregate `sql` from the shard files, with
    no Spark planning, and returns what the Column pipeline returns on the
    analytics session, cell by cell (same_cell). A tag group-by's rows
    compare as a multiset: Spark's own answer is not unique under LIMIT
    without ORDER BY or with ties under ORDER BY, so its rows must be
    LIMIT-many of the unlimited statement's rows, and the ORDER BY
    column's sequence must match."""
    import dataclasses

    from nsdb_spark.sql import ast
    from nsdb_spark.sql.parser import parse

    stmt = parse(sql, db="default", namespace="default")
    got = file_served_rows(engine, stmt)
    want = column_route_rows(engine, stmt)
    if not isinstance(stmt.group_by, ast.SimpleGroupBy):
        assert_same_rows(got, want, sql)
        return
    every = column_route_rows(engine, dataclasses.replace(stmt, limit=None))
    assert_limit_rows(got, every, stmt.limit.value if stmt.limit else len(every), sql)
    if stmt.order is not None:
        at = 1 if stmt.order.dimension == "value" else 0
        assert_same_rows([(r[at],) for r in got], [(r[at],) for r in want], sql)
