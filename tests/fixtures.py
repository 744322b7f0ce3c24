"""Golden fixture metrics mirroring FIXTURES.md (= the reference's
MockedData.scala tables). Helpers to load them into an NsdbEngine."""
from __future__ import annotations

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


def file_served_rows(engine, stmt) -> list[tuple]:
    """Rows of collect_select(stmt) with Spark planning forbidden, so only
    the shard-file read (engine._read_point_rows) can answer."""

    def no_spark(*a, **k):
        raise AssertionError("planned through Spark")

    engine.invalidate_plan_caches()
    engine._plan_select = no_spark
    try:
        return [tuple(r) for r in engine.collect_select(stmt)]
    finally:
        del engine._plan_select
        engine.invalidate_plan_caches()


def assert_limit_rows(got: list[tuple], every: list[tuple], k: int, label: str) -> None:
    """LIMIT k without ORDER BY: when k covers every match the rows are
    exactly the matches (as a multiset); otherwise any k of them."""
    from collections import Counter

    if k >= len(every):
        assert Counter(got) == Counter(every), label
    else:
        assert len(got) == k and not Counter(got) - Counter(every), label
