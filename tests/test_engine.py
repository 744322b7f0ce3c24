"""End-to-end engine tests over the golden fixtures (FIXTURES.md), modelled
on the reference's ReadCoordinator*Spec golden-output suites."""
import dataclasses

import pytest

from nsdb_spark.compiler import TimeContext
from nsdb_spark.engine import NsdbEngine, RetentionError
from nsdb_spark.model import Bit, SchemaError

from fixtures import (
    AGG_LONG_METRIC,
    CHARSET_METRIC,
    DOUBLE_METRIC,
    LONG_METRIC,
    NEGATIVE_METRIC,
    TEMPORAL_LONG_METRIC,
    assert_aggregate_file_route,
    assert_limit_rows,
    column_route_rows,
    file_served_rows,
    load,
    load_aggregate_parity,
)


@pytest.fixture()
def long_engine(engine):
    return load(engine, "longMetric", LONG_METRIC)


@pytest.fixture()
def agg_engine(engine):
    return load(engine, "aggregationLongMetric", AGG_LONG_METRIC)


def _rollup_scan(plan: str) -> bool:
    """True when the plan reads a temporal/group rollup STORE rather than
    raw data. The store is eagerly checkpointed at routing time
    (engine._read_rollup_store), so it appears as a Scan ExistingRDD over
    the store's partial-aggregate columns; the raw path never carries a
    k/count_value or an n/sum_value column pair."""
    return ("struct<k:bigint" in plan
            or ("Scan ExistingRDD" in plan and "count_value#" in plan and "k#" in plan)
            or ("Scan ExistingRDD" in plan and "sum_value#" in plan and "n#" in plan)
            or ("Scan ExistingRDD" in plan and "cnt#" in plan and "bin#" in plan))


def _hll_scan(plan: str) -> bool:
    return ("struct<k:bigint,reg:int" in plan
            or ("Scan ExistingRDD" in plan and "reg#" in plan))


def rows(df):
    return [tuple(r) for r in df.collect()]


# ---------------------------------------------------------------- simple


def test_select_star_order_limit(long_engine):
    df = long_engine.execute("select * from longMetric order by timestamp desc limit 2")
    assert rows(df) == [(10, 6, "Frankie", "Doe"), (8, 5, "Frank", "Doe")]
    assert df.columns == ["timestamp", "value", "name", "surname"]


def test_projection_always_includes_timestamp_value(long_engine):
    df = long_engine.execute("select name from longMetric order by timestamp limit 1")
    assert df.columns == ["timestamp", "value", "name"]
    assert rows(df) == [(1, 1, "John")]


def test_range_is_between(long_engine):
    df = long_engine.execute("select * from longMetric where timestamp in (2, 6)")
    assert sorted(r[0] for r in rows(df)) == [2, 4, 6]


def test_equality_unquoted(long_engine):
    df = long_engine.execute("select * from longMetric where name = John")
    assert sorted(r[0] for r in rows(df)) == [1, 2]


def test_comparison_and_or(long_engine):
    df = long_engine.execute(
        "select * from longMetric where timestamp >= 4 and timestamp < 8 or timestamp = 10"
    )
    # right-assoc: ts >= 4 AND (ts < 8 OR ts = 10) → 4, 6, 10
    assert sorted(r[0] for r in rows(df)) == [4, 6, 10]


def test_brackets(long_engine):
    df = long_engine.execute(
        "select * from longMetric where (timestamp >= 4 and timestamp < 8) or timestamp = 10"
    )
    assert sorted(r[0] for r in rows(df)) == [4, 6, 10]


def test_not(long_engine):
    df = long_engine.execute("select * from longMetric where not timestamp >= 4")
    assert sorted(r[0] for r in rows(df)) == [1, 2]


def test_like_dollar_wildcard(long_engine):
    df = long_engine.execute("select * from longMetric where name like Frank$")
    assert sorted(r[0] for r in rows(df)) == [8, 10]
    df2 = long_engine.execute("select * from longMetric where name like $ohn")
    assert sorted(r[0] for r in rows(df2)) == [1, 2]


def test_like_is_whole_string_match(long_engine):
    # no wildcard → exact match only
    df = long_engine.execute("select * from longMetric where name like Frank")
    assert sorted(r[0] for r in rows(df)) == [8]


def test_is_null_means_absent(agg_engine):
    df = agg_engine.execute("select * from aggregationLongMetric where age is null")
    assert [r[0] for r in rows(df)] == [8]
    df2 = agg_engine.execute(
        "select * from aggregationLongMetric where age is not null order by timestamp"
    )
    assert [r[0] for r in rows(df2)] == [2, 3, 4, 5, 6, 7, 9, 10]


def test_distinct_single_field(long_engine):
    df = long_engine.execute("select distinct name from longMetric")
    assert sorted(r[0] for r in rows(df)) == ["Bill", "Frank", "Frankie", "J", "John"]


# ---------------------------------------------------------------- global aggs


def test_global_count(long_engine):
    df = long_engine.execute("select count(*) from longMetric")
    assert rows(df) == [(6,)]
    assert df.columns == ["count_value"]


def test_global_count_clamped_by_limit(long_engine):
    # post_proc/package.scala:344-347
    df = long_engine.execute("select count(*) from longMetric limit 4")
    assert rows(df) == [(4,)]


def test_global_aggs(long_engine):
    df = long_engine.execute(
        "select count(*), count(distinct name), sum(value), min(value), max(value), avg(value) from longMetric"
    )
    assert rows(df) == [(6, 5, 21, 1, 6, 3.5)]


def test_global_empty_input(long_engine):
    df = long_engine.execute("select count(*), sum(value), avg(value) from longMetric where value > 100")
    assert rows(df) == [(0, 0, 0.0)]


def test_mixed_plain_and_agg(long_engine):
    # every row carries the final aggregate (post_proc/package.scala:387-394)
    df = long_engine.execute("select name, count(*) from longMetric order by timestamp")
    out = rows(df)
    assert len(out) == 6
    assert all(r[-1] == 6 for r in out)
    assert df.columns == ["timestamp", "value", "name", "count_value"]


# ---------------------------------------------------------------- group by


def test_group_by_sum(agg_engine):
    df = agg_engine.execute("select sum(value) from aggregationLongMetric group by name")
    assert sorted(rows(df)) == [("Bill", 10), ("Frank", 2), ("Frankie", 4), ("John", 10)]


def test_group_by_count(agg_engine):
    df = agg_engine.execute("select count(*) from aggregationLongMetric group by name")
    assert sorted(rows(df)) == [("Bill", 2), ("Frank", 2), ("Frankie", 1), ("John", 4)]


def test_group_by_min_max_avg(agg_engine):
    df = agg_engine.execute("select min(value) from aggregationLongMetric group by name")
    assert sorted(rows(df)) == [("Bill", 5), ("Frank", 1), ("Frankie", 4), ("John", 2)]
    df = agg_engine.execute("select avg(value) from aggregationLongMetric group by name")
    assert sorted(rows(df)) == [("Bill", 5.0), ("Frank", 1.0), ("Frankie", 4.0), ("John", 2.5)]


def test_group_by_numeric_tag(agg_engine):
    df = agg_engine.execute("select sum(value) from aggregationLongMetric group by age")
    assert sorted(rows(df), key=lambda r: (r[0] is None, r[0])) == [
        (15, 14), (16, 5), (20, 6), (None, 1)
    ]


def test_group_by_first_last(agg_engine):
    df = agg_engine.execute("select first(value) from aggregationLongMetric group by name")
    assert sorted((r[0], r[1], r[2]) for r in rows(df)) == [
        ("Bill", 5, 6), ("Frank", 1, 8), ("Frankie", 4, 10), ("John", 2, 2)
    ]
    df = agg_engine.execute("select last(value) from aggregationLongMetric group by name")
    assert sorted((r[0], r[1], r[2]) for r in rows(df)) == [
        ("Bill", 5, 7), ("Frank", 1, 9), ("Frankie", 4, 10), ("John", 3, 5)
    ]


def test_group_by_count_distinct(agg_engine):
    df = agg_engine.execute(
        "select count(distinct value) from aggregationLongMetric group by name"
    )
    assert sorted(rows(df)) == [("Bill", 1), ("Frank", 1), ("Frankie", 1), ("John", 2)]


def test_group_by_order_by_value_sorts_by_aggregate(agg_engine):
    df = agg_engine.execute(
        "select count(*) from aggregationLongMetric group by name order by value desc limit 2"
    )
    out = rows(df)
    assert out[0] == ("John", 4)
    assert out[1][1] == 2  # Bill or Frank, both count 2


def test_group_by_with_where(agg_engine):
    df = agg_engine.execute(
        "select sum(value) from aggregationLongMetric where timestamp in (2, 5) group by name"
    )
    assert sorted(rows(df)) == [("John", 10)]


# ---------------------------------------------------------------- negative values


def test_negative_metric(engine):
    load(engine, "negativeMetric", NEGATIVE_METRIC)
    df = engine.execute("select min(value) from negativeMetric group by name")
    assert sorted(rows(df)) == [("Bill", -6.0), ("Frank", -1.0), ("Frankie", -4.0), ("John", -5.0)]
    df = engine.execute("select max(value), sum(value) from negativeMetric")
    assert rows(df) == [(-1.0, -27.0)]
    df = engine.execute("select * from negativeMetric where value >= -2")
    assert sorted(r[0] for r in rows(df)) == [2, 3, 8, 9]
    df = engine.execute("select sum(value) from negativeMetric group by age")
    assert (-18, -4.0) in rows(df)


# ---------------------------------------------------------------- charset


def test_charset_equality_and_like(engine):
    load(engine, "charsetMetric", CHARSET_METRIC)
    df = engine.execute("select * from charsetMetric where textTag = 'Is this a question? Really'")
    assert [r[0] for r in rows(df)] == [150000]
    df = engine.execute("select * from charsetMetric where textTag like 'Is this$'")
    assert sorted(r[0] for r in rows(df)) == [90000, 120000, 150000]
    # `?` is a literal, not a wildcard (ExpressionParser.scala:110-120)
    df = engine.execute("select * from charsetMetric where textTag like 'a_:m?!-e'")
    assert [r[0] for r in rows(df)] == [60000]
    df = engine.execute("select * from charsetMetric where textTag like '$question?$'")
    assert sorted(r[0] for r in rows(df)) == [90000, 120000, 150000]


# ---------------------------------------------------------------- temporal


@pytest.fixture()
def temporal_engine(engine):
    # shard interval 100000 ms → shards [0,100000) and [100000,200000):
    # bucket upper bound = 200000 (backward alignment, SURVEY.md §4.3)
    return load(engine, "temporalLongMetric", TEMPORAL_LONG_METRIC, shard_interval_ms=100000)


def test_temporal_count_backward_aligned(temporal_engine):
    df = temporal_engine.execute("select count(*) from temporalLongMetric group by interval 30s")
    out = rows(df)
    assert out == [
        (20000, 0, 20000, 1),
        (50000, 20000, 50000, 1),
        (80000, 50000, 80000, 1),
        (110000, 80000, 110000, 1),
        (140000, 110000, 140000, 1),
        (170000, 140000, 170000, 1),
        (200000, 170000, 200000, 0),
    ]
    assert df.columns == ["timestamp", "lower_bound", "upper_bound", "count_value"]


def test_temporal_sum(temporal_engine):
    df = temporal_engine.execute("select sum(value) from temporalLongMetric group by interval 60s")
    out = rows(df)
    # buckets backward from 200000 with len 60000: [0,20000], (20000,80000],
    # (80000,140000], (140000,200000]
    assert out == [
        (20000, 0, 20000, 1),
        (80000, 20000, 80000, 11),
        (140000, 80000, 140000, 8),
        (200000, 140000, 200000, 2),
    ]


def test_temporal_limit_takes_most_recent(temporal_engine):
    # post_proc/package.scala:62-66 — limit keeps the LAST n buckets
    df = temporal_engine.execute(
        "select count(*) from temporalLongMetric group by interval 30s limit 2"
    )
    out = rows(df)
    assert [r[0] for r in out] == [170000, 200000]


def test_temporal_limit_desc_takes_oldest(temporal_engine):
    df = temporal_engine.execute(
        "select count(*) from temporalLongMetric group by interval 30s order by timestamp desc limit 2"
    )
    out = rows(df)
    assert [r[0] for r in out] == [50000, 20000]


def test_temporal_with_where_range(temporal_engine):
    df = temporal_engine.execute(
        "select count(*) from temporalLongMetric where timestamp >= 60000 group by interval 30s"
    )
    out = rows(df)
    # where-derived lower bound 60000, upper from shards = 200000
    assert out[0][1] == 60000  # first bucket truncated at 60000
    assert sum(r[3] for r in out) == 4


def test_temporal_disjoint_not_range_builds_per_interval_axes(temporal_engine):
    """A NOT-complement WHERE yields DISJOINT time intervals; the reference
    builds one backward-aligned bucket axis PER interval
    (TimeRangeManager.computeRangesForIntervalAndCondition,
    TimeRangeManager.scala:102-124) — no zero-filled buckets inside the
    excluded gap, and each axis aligns backward from its own interval top."""
    df = temporal_engine.execute(
        "select count(*) from temporalLongMetric "
        "where not timestamp in (60000, 130000) group by interval 30s"
    )
    out = rows(df)
    assert out == [
        (29999, 0, 29999, 1),       # [0, 29999] — lower axis, backward from 59999
        (59999, 29999, 59999, 1),   # (29999, 59999]
        (140000, 130001, 140000, 0),  # [130001, 140000] — upper axis truncated
        (170000, 140000, 170000, 1),  # (140000, 170000] — ts=150000
        (200000, 170000, 200000, 0),
    ]
    # rows at 60000/90000/120000 fall in the excluded gap: no bucket covers
    # them and no zero-filled bucket is emitted inside (59999, 130001)
    assert sum(r[3] for r in out) == 3


def test_temporal_or_ranges_per_interval_axes(temporal_engine):
    df = temporal_engine.execute(
        "select count(*) from temporalLongMetric "
        "where timestamp in (0, 50000) or timestamp in (120000, 160000) "
        "group by interval 30s"
    )
    out = rows(df)
    assert out == [
        (20000, 0, 20000, 1),        # [0, 20000] backward from 50000
        (50000, 20000, 50000, 1),    # (20000, 50000] — ts=30000
        (130000, 120000, 130000, 1), # [120000, 130000] backward from 160000
        (160000, 130000, 160000, 1), # (130000, 160000] — ts=150000
    ]


def test_grace_cutoff_beyond_data_extent(temporal_engine):
    """SINCE grace whose cutoff lies beyond the whole data extent —
    reference-exact on BOTH branches: without a WHERE the reference's
    computeRangeForInterval (upper < actualLower, first recursion step)
    emits ONE inverted zero bucket [cutoff, data_upper]; with a WHERE,
    Spire's intersects-filter against the inverted global interval
    drops every axis → empty result."""
    out = temporal_engine.execute(
        "select count(*) from temporalLongMetric "
        "group by interval 30s since 100 s",
        time_context=TimeContext(1_000_000),
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["lower_bound"], r["upper_bound"], r["count_value"]) == (
        900_000, 200_000, 0,
    )
    out2 = temporal_engine.execute(
        "select count(*) from temporalLongMetric "
        "where timestamp in (0, 150000) group by interval 30s since 100 s",
        time_context=TimeContext(1_000_000),
    ).collect()
    assert out2 == []


def test_or_with_non_time_side_never_prunes(long_engine):
    """`timestamp >= t OR name = x` must scan unconstrained: the
    reference keeps the time side's interval under OR
    (TimeRangeManager.scala:51-60, unpinned by its own spec) and would
    prune shards holding name-matching rows below t — a row-losing bug
    we deliberately do not reproduce (compiler.extract_time_range)."""
    out = long_engine.execute(
        "select * from longMetric where timestamp >= 8 or name = John "
        "order by timestamp"
    ).collect()
    # John rows live at ts 1 and 2 — BELOW the time bound; both survive
    assert [r["timestamp"] for r in out] == [1, 2, 8, 10]


def test_temporal_degenerate_interval_keeps_its_bucket(temporal_engine):
    """A zero-width time constraint ([x, x] from `timestamp = x`, or a
    NOT-complement whose edge lands on the data extent) is degenerate
    but NOT empty: the reference emits one inclusive bucket for it
    (computeRangeForInterval with upper == lower,
    TimeRangeManager.scala:96-99). Dropping it would lose matching rows."""
    # fixture has a row at ts=150000
    df = temporal_engine.execute(
        "select count(*) from temporalLongMetric "
        "where timestamp = 150000 group by interval 30s"
    )
    out = rows(df)
    assert out == [(150000, 150000, 150000, 1)]
    # complement whose lower axis degenerates to [0, 0] — ts=0 row kept
    df2 = temporal_engine.execute(
        "select count(*) from temporalLongMetric "
        "where not timestamp in (1, 130000) group by interval 30s"
    )
    out2 = rows(df2)
    assert out2[0] == (0, 0, 0, 1)  # the degenerate [0, 0] bucket
    assert sum(r[3] for r in out2) == sum(
        1 for t in (0, 30000, 60000, 90000, 120000, 150000) if not 1 <= t <= 130000
    )


def test_temporal_disjoint_limit_takes_most_recent_across_axes(temporal_engine):
    # temporal LIMIT = takeRight of the globally time-sorted axis even when
    # the axis is a union of per-interval axes (post_proc/package.scala:62-66)
    df = temporal_engine.execute(
        "select count(*) from temporalLongMetric "
        "where not timestamp in (60000, 130000) group by interval 30s limit 2"
    )
    out = rows(df)
    assert [r[0] for r in out] == [170000, 200000]


def test_contradictory_time_range_is_empty_not_full_axis(temporal_engine):
    """An unsatisfiable timestamp constraint is the EMPTY interval set
    (TimeRangeManager.scala:56-59 reduce→Interval.empty→filtered), not
    'unconstrained': the temporal axis must be empty — previously it
    fell back to the full zero-bucket data extent — and the aggregate
    column keeps its populated-path type (count stays bigint)."""
    df = temporal_engine.execute(
        "select count(*) from temporalLongMetric "
        "where timestamp >= 60000 and timestamp <= 5000 group by interval 30s"
    )
    assert df.collect() == []
    assert dict(df.dtypes)["count_value"] == "bigint"
    # inverted BETWEEN bounds are the same empty set
    df = temporal_engine.execute(
        "select count(*) from temporalLongMetric "
        "where timestamp in (60000, 5000) group by interval 30s"
    )
    assert df.collect() == []
    # plain SELECT: contradictory range returns nothing (and prunes all)
    df = temporal_engine.execute(
        "select * from temporalLongMetric "
        "where timestamp >= 60000 and timestamp <= 5000"
    )
    assert df.collect() == []
    # NOT over an always-true range = empty, not unconstrained
    df = temporal_engine.execute(
        "select * from temporalLongMetric where not timestamp >= 0"
    )
    assert df.collect() == []


def test_contradictory_delete_rewrites_no_shards(temporal_engine):
    """DELETE with a provably-empty time range must be a no-op that
    touches NO shard directories (previously ivs=[] read as 'all
    shards affected' and every partition was rewritten)."""
    import os

    path = temporal_engine.warehouse.data_path(
        "default", "default", "temporalLongMetric"
    )
    before = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            before[p] = os.path.getmtime(p)
    temporal_engine.execute(
        "delete from temporalLongMetric "
        "where timestamp >= 60000 and timestamp <= 5000"
    )
    after = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            after[p] = os.path.getmtime(p)
    assert after == before  # same files, untouched mtimes
    n = temporal_engine.execute("select count(*) from temporalLongMetric")
    assert n.collect()[0][-1] == 6  # nothing deleted


def test_parser_preserves_case_of_keyword_colliding_values(temporal_engine):
    """An unquoted comparison value that collides with a keyword keeps
    its original spelling — `host = Desc` must not match rows tagged
    'desc' (values are case-sensitive, like _expect_ident fields)."""
    from nsdb_spark.sql.parser import parse

    stmt = parse("select * from m where host = Desc")
    assert stmt.condition.expression.value.value == "Desc"
    stmt = parse("select * from m where host = COUNT")
    assert stmt.condition.expression.value.value == "COUNT"


def test_temporal_count_distinct(temporal_engine):
    df = temporal_engine.execute(
        "select count(distinct name) from temporalLongMetric group by interval 60s"
    )
    out = rows(df)
    assert [r[3] for r in out] == [1, 2, 1, 1]


def test_temporal_grace_period(temporal_engine):
    # SINCE 1 min with now=160000 → only buckets above 100000
    df = temporal_engine.execute(
        "select count(*) from temporalLongMetric group by interval 30s since 1 min",
        time_context=TimeContext(160000),
    )
    out = rows(df)
    assert all(r[1] >= 100000 for r in out)
    assert sum(r[3] for r in out) == 2  # ts 120000, 150000


def test_temporal_relative_time(temporal_engine):
    df = temporal_engine.execute(
        "select count(*) from temporalLongMetric where timestamp >= now - 1 min",
        time_context=TimeContext(160000),
    )
    assert rows(df) == [(2,)]


# ---------------------------------------------------------------- write path


def test_insert_statement_and_readback(engine):
    engine.execute("insert into m ts = 100 dim (surname = Doe) tags (name = John) val = 5")
    df = engine.execute("select * from m")
    assert rows(df) == [(100, 5, "John", "Doe")]


def test_insert_without_ts_uses_now(engine):
    engine.now_fn = lambda: 12345
    engine.execute("insert into m val = 1")
    assert rows(engine.execute("select * from m")) == [(12345, 1)]


def test_schema_union_grows_with_new_fields(engine):
    engine.insert_bits("default", "default", "m", [Bit(1, 1, {}, {"name": "a"})])
    engine.insert_bits("default", "default", "m", [Bit(2, 2, {"extra": 9}, {"name": "b"})])
    df = engine.execute("select * from m order by timestamp")
    assert df.columns == ["timestamp", "value", "extra", "name"]
    assert rows(df) == [(1, 1, None, "a"), (2, 2, 9, "b")]


def test_schema_union_rejects_type_conflict(engine):
    engine.insert_bits("default", "default", "m", [Bit(1, 1, {}, {"name": "a"})])
    with pytest.raises(SchemaError, match="type mismatch"):
        engine.insert_bits("default", "default", "m", [Bit(2, 2, {}, {"name": 3})])


def test_schema_union_rejects_class_conflict(engine):
    engine.insert_bits("default", "default", "m", [Bit(1, 1, {}, {"name": "a"})])
    with pytest.raises(SchemaError, match="class mismatch"):
        engine.insert_bits("default", "default", "m", [Bit(2, 2, {"name": "b"}, {})])


def test_delete_rewrites_only_affected_shards(engine):
    load(engine, "m", TEMPORAL_LONG_METRIC, shard_interval_ms=100000)
    before = set(engine.warehouse.locations("default", "default", "m"))
    assert before == {0, 100000}
    engine.execute("delete from m where timestamp in (110000, 160000)")
    df = engine.execute("select * from m order by timestamp")
    assert [r[0] for r in rows(df)] == [0, 30000, 60000, 90000]


def test_delete_needs_no_process_temp_dir(engine, monkeypatch, tmp_path):
    """DELETE stages inside the metric's own directory, so it works with
    the process temp dir missing (and its swap never crosses
    filesystems)."""
    import os
    import tempfile

    load(engine, "m", TEMPORAL_LONG_METRIC, shard_interval_ms=100000)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "missing"))
    engine.execute("delete from m where timestamp in (110000, 160000)")
    monkeypatch.undo()
    df = engine.execute("select * from m order by timestamp")
    assert [r[0] for r in rows(df)] == [0, 30000, 60000, 90000]
    # the staging area is left empty and is no metric
    mp = engine.warehouse.metric_path("default", "default", "m")
    assert os.listdir(os.path.join(mp, ".staging")) == []
    assert engine.warehouse.metrics("default", "default") == ["m"]


def test_failed_meta_json_write_keeps_previous_info(engine, monkeypatch):
    """init_metric replaces meta.json atomically: a write that dies
    half-way leaves the previous document readable, never a truncated
    one (a concurrent get_info would raise JSONDecodeError)."""
    import json

    engine.warehouse.init_metric("default", "default", "mj", 10_000, 5_000)

    def torn_dump(obj, fh, **kw):
        fh.write('{"shardInterval": 2')
        fh.flush()
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        engine.warehouse.init_metric("default", "default", "mj", 20_000, 0)
    monkeypatch.undo()
    assert engine.warehouse.get_info("default", "default", "mj") == {
        "shardInterval": 10_000, "retention": 5_000,
    }


def test_drop_metric(engine):
    load(engine, "m", LONG_METRIC)
    engine.execute("drop metric m")
    assert not engine.warehouse.exists("default", "default", "m")


def test_show_and_describe(engine):
    load(engine, "m", AGG_LONG_METRIC)
    assert engine.execute("show metrics") == ["m"]
    desc = engine.execute("describe m")
    assert ("timestamp", "BIGINT", "timestamp") in desc
    assert ("name", "VARCHAR", "tag") in desc
    assert ("surname", "VARCHAR", "dimension") in desc


def test_retention_rejects_old_writes(engine):
    engine.warehouse.init_metric("default", "default", "m", retention_ms=1000)
    engine.now_fn = lambda: 100_000
    with pytest.raises(RetentionError):
        engine.insert_bits("default", "default", "m", [Bit(1, 1)])
    engine.insert_bits("default", "default", "m", [Bit(99_500, 1)])


def test_retention_rejected_frame_leaves_schema_untouched(engine, spark):
    # insert_frame must validate retention BEFORE update_schema (same
    # order as insert_bits) so a rejected batch does not permanently
    # union-merge its columns into the registry
    engine.warehouse.init_metric("default", "default", "rf", retention_ms=1000)
    engine.now_fn = lambda: 100_000
    engine.insert_bits("default", "default", "rf", [Bit(99_500, 1)])
    before = set(engine.warehouse.get_schema("default", "default", "rf").fields)
    df = spark.createDataFrame(
        [(1, 2.0, "stray")], "timestamp long, value double, rogue string"
    )
    with pytest.raises(RetentionError):
        engine.insert_frame("default", "default", "rf", df, tags=[])
    after = set(engine.warehouse.get_schema("default", "default", "rf").fields)
    assert after == before  # no "rogue" column leaked in


def test_zorder_rejects_bit_overflow(engine, spark):
    from nsdb_spark.model import SchemaError

    engine.insert_bits(
        "default", "default", "zb",
        [Bit(i, 1, {}, {"a": i, "b": i, "c": i, "d": i}) for i in range(4)],
    )
    # 4 fields x default 16 bits = 64 > 63: would overflow the signed key
    with pytest.raises(SchemaError):
        engine.optimize_metric_zorder(
            "default", "default", "zb", ["a", "b", "c", "d"]
        )
    # scaled-down bits fit and succeed
    engine.optimize_metric_zorder(
        "default", "default", "zb", ["a", "b", "c", "d"], bits=15
    )


def test_retention_eviction(engine):
    engine.warehouse.init_metric("default", "default", "m", shard_interval_ms=1000, retention_ms=2000)
    engine.now_fn = lambda: 1_000
    engine.insert_bits("default", "default", "m", [Bit(500, 1), Bit(900, 2)])
    engine.now_fn = lambda: 5_000
    dropped = engine.enforce_retention("default", "default", "m")
    assert dropped == [0]
    assert rows(engine.execute("select count(*) from m")) == [(0,)]


def test_shard_interval_change_refused_once_metric_has_data(engine):
    """Every shard-pruning path assumes the shard starts on disk are
    aligned to the current shardInterval, so a metric with data keeps its
    interval: a change raises (on the API and over gRPC), while a
    same-interval or retention-only re-init still goes through."""
    from nsdb_spark.grpc.client import NsdbGrpcClient
    from nsdb_spark.grpc.server import serve_grpc

    wh = engine.warehouse
    wh.init_metric("default", "default", "ri", shard_interval_ms=1000)
    engine.insert_bits("default", "default", "ri", [Bit(1500, 1), Bit(2500, 2)])
    assert wh.locations("default", "default", "ri") == [1000, 2000]
    with pytest.raises(ValueError, match="shardInterval"):
        wh.init_metric("default", "default", "ri", shard_interval_ms=3000)
    wh.init_metric("default", "default", "ri", shard_interval_ms=1000, retention_ms=10**9)
    assert wh.get_info("default", "default", "ri") == {
        "shardInterval": 1000, "retention": 10**9,
    }
    wh.init_metric("default", "default", "ri", retention_ms=5)
    assert wh.get_info("default", "default", "ri") == {"shardInterval": 1000, "retention": 5}
    server = serve_grpc(engine, port=0)
    client = NsdbGrpcClient(server.host, server.port)
    try:
        out = client.init_metric("default", "default", "ri", shard_interval="3s")
        assert not out.get("completedSuccessfully", False)
        assert "shardInterval" in out["errorMsg"]
        out = client.init_metric("default", "default", "ri", retention="2h")
        assert out["completedSuccessfully"] is True
    finally:
        client.close()
        server.stop()
    assert wh.get_info("default", "default", "ri") == {
        "shardInterval": 1000, "retention": 7_200_000,
    }
    # the point SELECT the old interval change made prune to the wrong shard
    got = engine.execute("select timestamp from ri where timestamp = 2500")
    assert [r["timestamp"] for r in got.collect()] == [2500]


def _registered(engine, metric):
    """(kind, field, fine_ms) of every rollup registered for a metric."""
    return {
        (s.kind, s.field, s.fine_ms)
        for s in engine.warehouse.rollups("default", "default", metric)
    }


_ALL_KINDS = {
    ("temporal", None, 500),
    ("group", "name", None),
    ("quantile", None, 500),
    ("hll", "name", 500),
}


def _materialize_all_kinds(engine, metric):
    engine.materialize_rollup("default", "default", metric, 500)
    engine.materialize_group_rollup("default", "default", metric, "name")
    engine.materialize_quantile_rollup("default", "default", metric, 500, nbins=8)
    engine.materialize_distinct_rollup("default", "default", metric, "name", 500)


def test_retention_eviction_invalidates_rollups(engine):
    engine.warehouse.init_metric(
        "default", "default", "rr", shard_interval_ms=1000, retention_ms=2000
    )
    engine.now_fn = lambda: 1_000
    engine.insert_bits(
        "default", "default", "rr", [Bit(500, 1, {}, {"name": "a"})]
    )
    engine.now_fn = lambda: 4_600
    engine.insert_bits(
        "default", "default", "rr", [Bit(4500, 2, {}, {"name": "b"})]
    )
    _materialize_all_kinds(engine, "rr")
    assert _registered(engine, "rr") == _ALL_KINDS
    engine.now_fn = lambda: 5_000
    assert engine.enforce_retention("default", "default", "rr") == [0]
    # evicted shard changed every aggregate -> every rollup kind dropped
    assert engine.warehouse.rollups("default", "default", "rr") == []
    got = sorted(tuple(r) for r in engine.execute(
        "select sum(value) from rr group by name"
    ).collect())
    assert got == [("b", 2.0)] or got == [("b", 2)]


# ---------------------------------------------------------------- enrichment


def test_query_enrichment_time_range_and_filters(long_engine):
    df = long_engine.query(
        "select * from longMetric", from_ts=2, to_ts=8, filters=[("name", "Frank", "=")]
    )
    assert [r[0] for r in rows(df)] == [8]
    df2 = long_engine.query("select * from longMetric", filters=[("name", "Frank$", "like")])
    assert sorted(r[0] for r in rows(df2)) == [8, 10]


def test_double_metric_values(engine):
    load(engine, "doubleMetric", DOUBLE_METRIC)
    df = engine.execute("select sum(value), avg(value) from doubleMetric")
    assert rows(df) == [(7.5, 1.5)]
    df = engine.execute("select * from doubleMetric where value = 1.5 order by timestamp limit 2")
    assert [r[0] for r in rows(df)] == [2, 4]


def test_temporal_min_zero_skip_quirk(engine):
    """⚠ post_proc/package.scala:170-176: the cross-shard temporal-min
    reduce drops ZERO shard partials unless every partial is zero. With a
    30s bucket straddling two 20s shards where one shard's minimum is 0,
    NSDb reports the nonzero partial — not the true 0 minimum."""
    bits = [
        Bit(5000, 0, {}, {"name": "a"}),     # shard [0,20000): partial min 0
        Bit(15000, 7, {}, {"name": "b"}),
        Bit(25000, 3, {}, {"name": "c"}),    # shard [20000,40000): partial 3
        Bit(35000, 9, {}, {"name": "d"}),
    ]
    eng = load(engine, "zeroMinMetric", bits, shard_interval_ms=20000)
    # one 40s bucket covering everything: partials {0, 3} → min = 3 (not 0)
    df = eng.execute("select min(value) from zeroMinMetric group by interval 40s")
    assert rows(df) == [(40000, 0, 40000, 3)]
    # all partials zero → 0
    bits2 = [Bit(5000, 0, {}, {"name": "a"}), Bit(25000, 0, {}, {"name": "b"})]
    eng = load(engine, "zeroMinMetric2", bits2, shard_interval_ms=20000)
    df = eng.execute("select min(value) from zeroMinMetric2 group by interval 40s")
    assert rows(df) == [(40000, 0, 40000, 0)]


def test_temporal_max_plain(engine):
    bits = [
        Bit(5000, 4, {}, {"name": "a"}),
        Bit(25000, 9, {}, {"name": "b"}),
    ]
    eng = load(engine, "maxMetric", bits, shard_interval_ms=20000)
    df = eng.execute("select max(value) from maxMetric group by interval 20s")
    assert rows(df) == [(20000, 0, 20000, 4), (40000, 20000, 40000, 9)]


def test_retention_scheduler_evicts(engine):
    import time as _time

    engine.warehouse.init_metric("default", "default", "schedm", 1000, retention_ms=5000)
    clock = {"now": 100000}
    engine.now_fn = lambda: clock["now"]
    engine.execute("insert into schedm ts = 96000 tags (k = a) val = 1.0")
    engine.execute("insert into schedm ts = 99000 tags (k = a) val = 2.0")
    stop = engine.start_retention_scheduler(interval_s=0.2)
    try:
        clock["now"] = 104000  # ts=96000 now older than retention 5000
        deadline = _time.time() + 5
        while _time.time() < deadline:
            vals = sorted(r[1] for r in engine.execute("select * from schedm").collect())
            if vals == [2.0]:
                break
            _time.sleep(0.1)
        assert vals == [2.0]
    finally:
        stop.set()


def test_retention_scheduler_logs_failed_sweep_and_keeps_running(engine, caplog, monkeypatch):
    import logging
    import time as _time

    calls = []

    def sweep():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("sweep boom")
        return {}

    monkeypatch.setattr(engine, "enforce_all_retentions", sweep)
    caplog.set_level(logging.ERROR, logger="nsdb_spark.engine")
    stop = engine.start_retention_scheduler(interval_s=0.05)
    try:
        deadline = _time.time() + 5
        while len(calls) < 2 and _time.time() < deadline:
            _time.sleep(0.02)
    finally:
        stop.set()
    assert len(calls) >= 2  # the failed tick did not end the loop
    failed = [r for r in caplog.records if r.name == "nsdb_spark.engine" and r.exc_info]
    assert failed and "sweep boom" in str(failed[0].exc_info[1])


def test_approx_count_distinct_opt_in(engine):
    from nsdb_spark.engine import NsdbEngine

    for i in range(50):
        engine.execute(
            f"insert into acdm ts = {i} tags (k = t{i % 7}) val = {float(i)}"
        )
    exact = engine.execute("select count(distinct k) from acdm").collect()[0][0]
    approx_engine = NsdbEngine(
        engine.spark, engine.warehouse.root, approx_count_distinct=True
    )
    approx = approx_engine.execute("select count(distinct k) from acdm").collect()[0][0]
    assert exact == 7
    assert approx == 7  # HLL++ is exact at tiny cardinalities


def test_compaction_merges_small_files(engine):
    import glob
    import os

    engine.warehouse.init_metric("default", "default", "fragm", 100000)
    # 6 separate inserts into the same shard → >= 6 files
    for i in range(6):
        engine.execute(f"insert into fragm ts = {i * 10} tags (k = a) val = {float(i)}")
    engine.execute("insert into fragm ts = 200000 tags (k = b) val = 99.0")  # other shard
    dp = engine.warehouse.data_path("default", "default", "fragm")

    def files_in(shard):
        return [
            f for f in glob.glob(os.path.join(dp, f"shard_start={shard}", "*.parquet"))
        ]

    before = engine.execute("select * from fragm order by timestamp").collect()
    assert len(files_in(0)) >= 6
    other_before = len(files_in(200000))

    compacted = engine.compact_metric("default", "default", "fragm", min_files=4)
    assert compacted == [0]
    assert len(files_in(0)) == 1
    assert len(files_in(200000)) == other_before  # untouched shard preserved
    after = engine.execute("select * from fragm order by timestamp").collect()
    assert after == before


def test_shard_files_sorted_on_timestamp(engine, spark, tmp_path):
    """Every shard file an insert or a compaction writes is sorted on
    timestamp, also when the input is not: a partitioned write sorts on
    the shard column, and a sort on timestamp alone gave way to it."""
    import glob
    import os
    import random

    import pandas as pd
    import pyarrow.parquet as pq

    rows = [(t, float(t)) for t in range(0, 6000, 5)]  # 6 shards of 1000 ms
    random.Random(7).shuffle(rows)
    src = str(tmp_path / "shuffled.parquet")
    pd.DataFrame(rows, columns=["timestamp", "value"]).to_parquet(src, index=False)
    engine.warehouse.init_metric("default", "default", "shuf", 1000)
    for _ in range(2):
        engine.insert_frame("default", "default", "shuf", spark.read.parquet(src))
    dp = engine.warehouse.data_path("default", "default", "shuf")

    def unsorted_files():
        out = []
        for f in glob.glob(os.path.join(dp, "shard_start=*", "*.parquet")):
            ts = pq.read_table(f, columns=["timestamp"]).column(0).to_pylist()
            if ts != sorted(ts):
                out.append(f)
        return out

    assert unsorted_files() == []
    assert len(engine.compact_metric("default", "default", "shuf", min_files=2)) == 6
    assert unsorted_files() == []
    assert engine.execute("select count(*) from shuf").collect()[0][0] == 2 * len(rows)


def _row_groups(path: str) -> list[tuple[int, int, int]]:
    """(rows, timestamp min, timestamp max) of each row group of a
    parquet file, from its footer."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    ts = md.schema.to_arrow_schema().get_field_index("timestamp")
    out = []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        stats = rg.column(ts).statistics
        out.append((rg.num_rows, stats.min, stats.max))
    return out


def _shard_file_paths(engine, metric: str) -> list[str]:
    import glob
    import os

    dp = engine.warehouse.data_path("default", "default", metric)
    return sorted(glob.glob(os.path.join(dp, "shard_start=*", "*.parquet")))


def test_shard_file_row_groups_cover_ascending_timestamp_spans(engine, spark, tmp_path):
    """insert_frame of more than _SHARD_ROW_GROUP_ROWS rows into one shard
    writes ceil(n / limit) row groups whose timestamp statistics ascend
    without overlap, so a narrow range's pyarrow predicate (the one the
    file route scans with) keeps exactly one row group."""
    import math
    import random

    import pandas as pd
    import pyarrow.dataset as pads

    from nsdb_spark.sql.parser import parse

    limit = NsdbEngine._SHARD_ROW_GROUP_ROWS
    n = 2 * limit + 100
    rows = [(t, float(t)) for t in range(n)]
    random.Random(3).shuffle(rows)
    src = str(tmp_path / "one_shard.parquet")
    pd.DataFrame(rows, columns=["timestamp", "value"]).to_parquet(src, index=False)
    engine.warehouse.init_metric("default", "default", "rg", 10 * n)
    engine.insert_frame("default", "default", "rg", spark.read.parquet(src))
    [path] = _shard_file_paths(engine, "rg")
    groups = _row_groups(path)
    assert len(groups) == math.ceil(n / limit)
    assert sum(g[0] for g in groups) == n and max(g[0] for g in groups) <= limit
    assert all(a[2] < b[1] for a, b in zip(groups, groups[1:]))

    stmt = parse(
        f"select * from rg where timestamp >= {limit + 10} and timestamp < {limit + 90} "
        "limit 100",
        db="default", namespace="default",
    )
    read = engine._route(stmt)
    assert read.route == "files" and read.files == [path]
    [fragment] = pads.dataset(read.files, format="parquet").get_fragments()
    [kept] = fragment.split_by_row_group(read.predicate)
    assert kept.row_groups[0].id == 1
    assert sorted(r.timestamp for r in engine.collect_select(stmt)) == list(
        range(limit + 10, limit + 90)
    )


def test_delete_rewrites_a_shard_as_one_timestamp_sorted_file(engine):
    """DELETE rewrites an affected shard through the shard writer: two
    interleaved inserts (two files, each spanning the shard's whole
    timestamp range) become one file sorted on timestamp."""
    import pyarrow.parquet as pq

    engine.warehouse.init_metric("default", "default", "dsort", 100000)
    for parity in (0, 1):
        engine.insert_bits("default", "default", "dsort", [
            Bit(t, t, {}, {}) for t in range(parity, 200, 2)
        ])
    assert len(_shard_file_paths(engine, "dsort")) == 2
    engine.execute("delete from dsort where timestamp = 7")
    [path] = _shard_file_paths(engine, "dsort")
    ts = pq.read_table(path, columns=["timestamp"]).column(0).to_pylist()
    assert ts == [t for t in range(200) if t != 7]


def test_every_shard_write_keeps_the_row_group_limit(engine, spark, monkeypatch):
    """Every shard file that insert_bits, insert_frame, DELETE, compaction
    and Z-order write is made of row groups of at most
    _SHARD_ROW_GROUP_ROWS rows; all but Z-order's are sorted on timestamp,
    so their groups' timestamp spans ascend."""
    monkeypatch.setattr(NsdbEngine, "_SHARD_ROW_GROUP_ROWS", 4)

    def check(sorted_on_timestamp=True):
        paths = _shard_file_paths(engine, "rgl")
        assert paths
        for path in paths:
            groups = _row_groups(path)
            assert max(g[0] for g in groups) <= 4, (path, groups)
            if sorted_on_timestamp:
                assert all(a[2] <= b[1] for a, b in zip(groups, groups[1:])), groups
        return sum(len(_row_groups(p)) for p in paths)

    engine.warehouse.init_metric("default", "default", "rgl", 100)
    engine.insert_bits("default", "default", "rgl", [
        Bit(t, t, {}, {"g": str(t % 3)}) for t in range(0, 300, 3)
    ])
    assert check() >= 25
    engine.insert_frame("default", "default", "rgl", spark.createDataFrame(
        [(t, t, str(t % 3)) for t in range(1, 300, 3)], "timestamp long, value long, g string"
    ), tags=["g"])
    check()
    engine.execute("delete from rgl where timestamp = 4")
    check()
    engine.insert_bits("default", "default", "rgl", [Bit(t, t, {}, {"g": "x"}) for t in (2, 5)])
    assert engine.compact_metric("default", "default", "rgl", min_files=2) == [0, 100, 200]
    check()
    engine.optimize_metric_zorder("default", "default", "rgl", ["g", "value"])
    check(sorted_on_timestamp=False)
    assert engine.execute("select count(*) from rgl").collect()[0][0] == 201


def test_concurrent_compactions_keep_untouched_shards(engine, monkeypatch):
    """Two metrics compacted at once on the one shared session, with B's
    write held until A's compact_metric has returned: B's untouched shard
    keeps its rows. A compaction must not rest on a session conf that
    another thread's compaction can reset mid-flight."""
    import os
    import threading

    from pyspark.sql.readwriter import DataFrameWriter

    prefix = {}
    for m in ("ca", "cb"):
        engine.warehouse.init_metric("default", "default", m, 100000)
        for i in range(4):
            engine.execute(f"insert into {m} ts = {i * 10} tags (k = a) val = {float(i)}")
        engine.execute(f"insert into {m} ts = 200000 tags (k = b) val = 99.0")
        prefix[m] = engine.warehouse.metric_path("default", "default", m) + os.sep
    before = engine.execute("select * from cb order by timestamp").collect()
    a_writing, b_writing, a_done = threading.Event(), threading.Event(), threading.Event()
    orig = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if path.startswith(prefix["ca"]):
            a_writing.set()
            b_writing.wait(60)
        elif path.startswith(prefix["cb"]):
            b_writing.set()
            a_done.wait(60)
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    errors, done = [], {}

    def compact(m):
        try:
            done[m] = engine.compact_metric("default", "default", m, min_files=4)
        except Exception as e:  # surfaced by the asserts below
            errors.append(e)
        finally:
            if m == "ca":
                a_done.set()

    ta = threading.Thread(target=compact, args=("ca",))
    ta.start()
    assert a_writing.wait(60)
    tb = threading.Thread(target=compact, args=("cb",))
    tb.start()
    ta.join(120)
    tb.join(120)
    monkeypatch.undo()
    assert not ta.is_alive() and not tb.is_alive()
    assert errors == [] and done == {"ca": [0], "cb": [0]}
    assert engine.execute("select * from cb order by timestamp").collect() == before
    assert engine.warehouse.locations("default", "default", "cb") == [0, 200000]


def test_insert_during_compaction_is_kept(engine, monkeypatch):
    """An insert acknowledged while a compaction rewrites its shard is
    readable afterwards: it publishes under the metric lock the rewrite
    holds from its read to its swap, so it lands after the swap instead
    of being moved aside with the old shard directory and deleted. The
    insert runs from inside compaction's write callback; once it has
    registered its schema (the step just before publication) it gets a
    few seconds to publish before the write goes on."""
    import threading

    wh = engine.warehouse
    wh.init_metric("default", "default", "cins", 100000)
    for i in range(2):
        engine.execute(f"insert into cins ts = {i * 10} tags (k = a) val = {float(i)}")
    staged = threading.Event()
    update_schema = wh.update_schema

    def spy_update_schema(*args):
        out = update_schema(*args)
        staged.set()
        return out

    monkeypatch.setattr(wh, "update_schema", spy_update_schema)
    rewrite_shards = wh.rewrite_shards
    inserted = []
    t = threading.Thread(target=lambda: inserted.append(
        engine.execute("insert into cins ts = 50 tags (k = a) val = 5.0")
    ))

    def rewrite(db, ns, metric, shards, write):
        def write_with_insert(path):
            t.start()
            assert staged.wait(60)
            t.join(3)
            write(path)

        rewrite_shards(db, ns, metric, shards, write_with_insert)

    monkeypatch.setattr(wh, "rewrite_shards", rewrite)
    assert engine.compact_metric("default", "default", "cins", min_files=2) == [0]
    t.join(60)
    assert inserted == [1]
    assert engine.execute("select count(*) from cins").collect()[0][0] == 3


# ------------------------------------------------------------ rollup routing


def _rows(df):
    return [
        (r["timestamp"], r["lower_bound"], r["upper_bound"], r[df.columns[-1]])
        for r in df.collect()
    ]


def test_rollup_route_matches_raw_path(engine, spark):
    from fixtures import TEMPORAL_LONG_METRIC, load

    load(engine, "rm", TEMPORAL_LONG_METRIC, shard_interval_ms=10000)
    for sql in [
        "select count(*) from rm group by interval 2 s",
        "select sum(value) from rm group by interval 2 s",
        "select max(value) from rm group by interval 4 s",
        "select avg(value) from rm group by interval 2 s",
        "select count(*) from rm group by interval 2 s limit 3",
        "select count(*) from rm group by interval 2 s order by timestamp desc limit 2",
    ]:
        raw = _rows(engine.execute(sql))
        engine.materialize_rollup("default", "default", "rm", 1000)
        routed_df = engine.execute(sql)
        # the routed plan must scan the rollup store, not the raw data dir
        plan = routed_df._jdf.queryExecution().executedPlan().toString()
        # the rollup scan is identifiable by its partial-aggregate schema
        assert _rollup_scan(plan), sql
        assert _rows(routed_df) == raw, sql
        engine.warehouse.invalidate_rollups("default", "default", "rm")


def test_rollup_route_fallback_cases(engine, spark):
    from fixtures import TEMPORAL_LONG_METRIC, load

    load(engine, "rf", TEMPORAL_LONG_METRIC, shard_interval_ms=10000)
    engine.materialize_rollup("default", "default", "rf", 1000)

    def plan_has_rollup(sql, **kw):
        df = engine.execute(sql, **kw)
        return _rollup_scan(df._jdf.queryExecution().executedPlan().toString())

    assert plan_has_rollup("select count(*) from rf group by interval 2 s")
    # WHERE, SINCE, min, count distinct, non-multiple interval: raw path
    assert not plan_has_rollup(
        "select count(*) from rf group by interval 2 s since 5 s"
    )
    assert not plan_has_rollup(
        "select count(*) from rf where value > 1 group by interval 2 s"
    )
    assert not plan_has_rollup("select min(value) from rf group by interval 2 s")
    assert not plan_has_rollup(
        "select count(distinct value) from rf group by interval 2 s"
    )
    # interval not a multiple of any registered grain: raw path
    engine.warehouse.invalidate_rollups("default", "default", "rf")
    engine.materialize_rollup("default", "default", "rf", 2000)
    assert not plan_has_rollup("select count(*) from rf group by interval 3 s")
    assert plan_has_rollup("select count(*) from rf group by interval 4 s")


def test_rollup_routed_read_reads_registry_and_data_listing_once(engine, monkeypatch):
    """A rollup-routed read decides its route from one read of the rollup
    registry and one listing of the data directory; a registered store
    that vanished falls back to the raw path."""
    import shutil

    from fixtures import TEMPORAL_LONG_METRIC, load

    from nsdb_spark.sql.parser import parse

    load(engine, "rr", TEMPORAL_LONG_METRIC, shard_interval_ms=10000)
    sql = "select count(*) from rr group by interval 2 s"
    stmt = parse(sql, db="default", namespace="default")
    raw = [tuple(r) for r in engine.execute(sql).collect()]
    engine.materialize_rollup("default", "default", "rr", 1000)
    wh = engine.warehouse
    calls = {"rollups": 0, "locations": 0}
    for name in calls:
        orig = getattr(wh, name)

        def spy(*a, _orig=orig, _name=name, **kw):
            calls[_name] += 1
            return _orig(*a, **kw)

        monkeypatch.setattr(wh, name, spy)
    assert engine.explain_select(sql)["rollup_routed"]
    engine.invalidate_plan_caches()
    calls.update(rollups=0, locations=0)
    assert [tuple(r) for r in engine.collect_select(stmt)] == raw
    assert calls == {"rollups": 1, "locations": 1}
    # the store vanishes while its registration stays: raw path
    [spec] = wh.rollups("default", "default", "rr")
    shutil.rmtree(wh.rollup_path("default", "default", "rr", spec))
    engine.invalidate_plan_caches()
    assert [tuple(r) for r in engine.collect_select(stmt)] == raw
    explained = engine.explain_select(sql)
    assert not explained["rollup_routed"]
    # the route of the raw plan that runs (16 shards: past the serving gate)
    assert explained["route"] == "analytics"


def _is_group_rollup_plan(plan: str) -> bool:
    # the rollup store is eagerly checkpointed at routing time, so it
    # appears as a Scan ExistingRDD over the partial columns (ReadSchema
    # fingerprints covered the pre-checkpoint FileScan form)
    return any(
        m in plan
        for m in ("sum_value:", "min_value:", "max_value:", ",n:bigint", "<n:bigint")
    ) or ("Scan ExistingRDD" in plan and "sum_value#" in plan and "n#" in plan)


def test_group_rollup_route_matches_raw_path(engine, spark):
    from fixtures import LONG_METRIC, load

    load(engine, "gm", LONG_METRIC, shard_interval_ms=10000)
    for sql in [
        "select count(*) from gm group by name",
        "select sum(value) from gm group by name",
        "select min(value) from gm group by name",
        "select max(value) from gm group by name",
        "select avg(value) from gm group by name",
        "select sum(value) from gm group by name order by value desc limit 2",
        "select count(*) from gm group by name order by name",
    ]:
        raw = sorted(tuple(r) for r in engine.execute(sql).collect())
        engine.materialize_group_rollup("default", "default", "gm", "name")
        routed_df = engine.execute(sql)
        plan = routed_df._jdf.queryExecution().executedPlan().toString()
        assert _is_group_rollup_plan(plan), sql
        assert sorted(tuple(r) for r in routed_df.collect()) == raw, sql
        engine.warehouse.invalidate_rollups("default", "default", "gm")


def test_group_rollup_fallback_cases(engine, spark):
    from fixtures import LONG_METRIC, load

    load(engine, "gf", LONG_METRIC, shard_interval_ms=10000)
    engine.materialize_group_rollup("default", "default", "gf", "name")

    def routed(sql):
        df = engine.execute(sql)
        return _is_group_rollup_plan(
            df._jdf.queryExecution().executedPlan().toString()
        )

    assert routed("select sum(value) from gf group by name")
    # WHERE, count distinct, first/last, other group field: raw path
    assert not routed("select sum(value) from gf where value > 1 group by name")
    assert not routed("select count(distinct value) from gf group by name")
    assert not routed("select first(value) from gf group by name")
    assert not routed("select last(value) from gf group by name")


def test_rollup_maintained_by_in_bounds_write(engine, spark):
    """A write inside the rollup's pinned axis is MERGED into the stored
    partials (incremental view maintenance): the query keeps routing
    through the rollup and sees the new data."""
    from nsdb_spark.model import Bit
    from fixtures import TEMPORAL_LONG_METRIC, load

    load(engine, "ri", TEMPORAL_LONG_METRIC, shard_interval_ms=10000)
    engine.materialize_rollup("default", "default", "ri", 1000)
    sql = "select count(*) from ri group by interval 2 s"
    before = engine.execute(sql)
    assert _rollup_scan(before._jdf.queryExecution().executedPlan().toString())
    total_before = sum(r[3] for r in _rows(before))  # collect BEFORE the write
    engine.insert_bits("default", "default", "ri", [Bit(1500, 7, {}, {"name": "x"})])
    after = engine.execute(sql)
    # still rollup-served AND fresh
    assert _rollup_scan(after._jdf.queryExecution().executedPlan().toString())
    total_after = sum(r[3] for r in _rows(after))
    assert total_after == total_before + 1
    # raw path agrees with the maintained rollup
    engine.warehouse.invalidate_rollups("default", "default", "ri")
    assert sum(r[3] for r in _rows(engine.execute(sql))) == total_after


def test_rollup_invalidated_by_out_of_bounds_write(engine, spark):
    """A write past the pinned axis would change the bucket grid — the
    rollup is dropped and queries fall back to raw."""
    from nsdb_spark.model import Bit
    from fixtures import TEMPORAL_LONG_METRIC, load

    load(engine, "ro", TEMPORAL_LONG_METRIC, shard_interval_ms=10000)
    engine.materialize_rollup("default", "default", "ro", 1000)
    sql = "select count(*) from ro group by interval 2 s"
    assert _rollup_scan(engine.execute(sql)._jdf.queryExecution().executedPlan().toString())
    # far beyond upper = max shard top
    engine.insert_bits("default", "default", "ro", [Bit(10_000_000, 1, {}, {"name": "y"})])
    after = engine.execute(sql)
    assert not _rollup_scan(after._jdf.queryExecution().executedPlan().toString())
    assert not engine.warehouse.rollups("default", "default", "ro")


def test_quantile_rollup_serves_and_maintains(engine, spark):
    """Percentiles come from the sketch store; an in-grid insert merges
    into the stored partials and the served percentile moves accordingly;
    the sketch answer sits within one bin width of the exact scan."""
    from nsdb_spark.model import Bit
    from fixtures import TEMPORAL_LONG_METRIC, load

    from pyspark.sql import functions as F

    load(engine, "qr", TEMPORAL_LONG_METRIC, shard_interval_ms=10000)
    lo_hi = engine.read_metric("default", "default", "qr").agg(
        F.min("value"), F.max("value")
    ).first()
    bounds, vrange = engine.materialize_quantile_rollup(
        "default", "default", "qr", 1000, nbins=64
    )
    assert (vrange[0], vrange[1]) == (float(lo_hi[0]), float(lo_hi[1]))
    before = {r["q"]: r["pvalue"]
              for r in engine.percentile("default", "default", "qr", [0.5]).collect()}
    values = sorted(
        r["value"] for r in engine.read_metric("default", "default", "qr").collect()
    )
    import math

    # the sketch's cut (first cum >= q*n) is the rank-ceil(q*n) order
    # statistic; compare against that, not the upper median
    w = (vrange[1] - vrange[0]) / 64 or 1.0
    exact = values[max(0, math.ceil(0.5 * len(values)) - 1)]
    assert abs(before[0.5] - exact) <= w + 1e-9

    # in-grid insert (value inside the pinned range): sketch is MERGED,
    # registration survives, and the median reflects the new point
    mid_v = int((vrange[0] + vrange[1]) / 2)  # metric value type is BIGINT
    engine.insert_bits("default", "default", "qr", [Bit(1500, mid_v, {}, {"name": "x"})])
    assert ("quantile", None, 1000) in _registered(engine, "qr")
    after = {r["q"]: r["pvalue"]
             for r in engine.percentile("default", "default", "qr", [0.5]).collect()}
    values.append(mid_v)
    values.sort()
    exact2 = values[max(0, math.ceil(0.5 * len(values)) - 1)]
    assert abs(after[0.5] - exact2) <= w + 1e-9

    # temporal serving path rides the same store
    t = engine.percentile("default", "default", "qr", [0.5], coarse_ms=2000)
    assert {c for c in t.columns} == {"timestamp", "lower_bound", "upper_bound", "pvalue"}
    assert t.count() > 0


def test_engine_percentile_scans_only_the_sketch(engine, spark):
    """The served percentile plan reads the q_<fine> sketch parquet and
    never the raw metric data directory."""
    from fixtures import TEMPORAL_LONG_METRIC, load

    load(engine, "qp", TEMPORAL_LONG_METRIC, shard_interval_ms=10000)
    engine.materialize_quantile_rollup("default", "default", "qp", 1000, nbins=32)
    out = engine.percentile("default", "default", "qp", [0.5, 0.9])
    files = out.inputFiles()
    data_dir = engine.warehouse.data_path("default", "default", "qp")
    assert not any(data_dir in f for f in files)  # raw history untouched
    if files:
        assert all("rollups/q_1000" in f for f in files)
    else:
        # the sketch is eagerly checkpointed at routing time
        # (engine._read_rollup_store): the served plan scans the pinned
        # store rows, still never the raw metric directory
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan and "cnt#" in plan


def test_quantile_rollup_invalidated_by_out_of_grid_value(engine, spark):
    """A value outside the pinned value grid would change the binning —
    the sketch is dropped (same rule as the time axis)."""
    from nsdb_spark.model import Bit
    from fixtures import TEMPORAL_LONG_METRIC, load
    import pytest as _pytest

    load(engine, "qv", TEMPORAL_LONG_METRIC, shard_interval_ms=10000)
    engine.materialize_quantile_rollup("default", "default", "qv", 1000, nbins=64)
    [spec] = engine.warehouse.rollups("default", "default", "qv")
    assert (spec.kind, spec.fine_ms) == ("quantile", 1000)
    vrange = spec.value_range
    engine.insert_bits(
        "default", "default", "qv",
        [Bit(1500, int(vrange[1] + 1000), {}, {"name": "y"})],
    )
    assert not engine.warehouse.rollups("default", "default", "qv")
    with _pytest.raises(ValueError):
        engine.percentile("default", "default", "qv", [0.5])


def test_group_rollup_maintained_with_new_group(engine, spark):
    """Group rollups merge in-bounds batches too — including groups never
    seen before (union adds the row)."""
    from nsdb_spark.model import Bit
    from fixtures import LONG_METRIC, load

    load(engine, "gw", LONG_METRIC, shard_interval_ms=10000)
    engine.materialize_group_rollup("default", "default", "gw", "name")
    sql = "select sum(value) from gw group by name"
    before = {r[0]: r[1] for r in engine.execute(sql).collect()}
    engine.insert_bits(
        "default", "default", "gw",
        [Bit(50, 100, {}, {"name": "NEWKEY"}), Bit(60, 2, {}, {"name": "Frank"})],
    )
    after_df = engine.execute(sql)
    assert _is_group_rollup_plan(after_df._jdf.queryExecution().executedPlan().toString())
    after = {r[0]: r[1] for r in after_df.collect()}
    assert after["NEWKEY"] == 100
    assert after["Frank"] == before["Frank"] + 2
    # raw path agrees
    engine.warehouse.invalidate_rollups("default", "default", "gw")
    raw = {r[0]: r[1] for r in engine.execute(sql).collect()}
    assert raw == after


# ------------------------------------------------------------- bulk ingest


def test_insert_frame_distributed_write(engine, spark):
    df = spark.createDataFrame(
        [(1, 10.0, "h1", "eu"), (2, 20.0, "h2", "us"), (2592000001, 30.0, "h1", "eu")],
        "timestamp long, value double, host string, region string",
    )
    n = engine.insert_frame("default", "default", "bulk", df, tags=["region"])
    assert n == 3
    schema = engine.warehouse.get_schema("default", "default", "bulk")
    assert schema.tags() == ["region"] and schema.dimensions() == ["host"]
    out = engine.execute("select * from bulk order by timestamp").collect()
    assert [r["value"] for r in out] == [10.0, 20.0, 30.0]
    # two shard partitions written (30 d boundary)
    assert sorted(engine.warehouse.locations("default", "default", "bulk")) == [
        0,
        2592000000,
    ]


def test_insert_frame_unions_with_record_path(engine, spark):
    from nsdb_spark.model import Bit, SchemaError

    engine.insert_bits("default", "default", "m", [Bit(1, 5, {}, {"name": "a"})])
    df = spark.createDataFrame(
        [(2, 7, "b", "x")], "timestamp long, value long, name string, extra string"
    )
    engine.insert_frame("default", "default", "m", df, tags=["name"])
    schema = engine.warehouse.get_schema("default", "default", "m")
    assert schema.has_field("extra")
    # absent-field-is-null across the union: the first bit has no `extra`
    rows = engine.execute("select * from m order by timestamp").collect()
    assert rows[0]["extra"] is None and rows[1]["extra"] == "x"
    # a known column INHERITS its registered class: `name` stays a tag
    # even when not re-declared, so re-ingest never manufactures a
    # conflict (bulk.frame_schema known_classes)
    engine.insert_frame(
        "default", "default", "m",
        spark.createDataFrame([(3, 1, "c")], "timestamp long, value long, name string"),
    )
    assert engine.warehouse.get_schema("default", "default", "m").tags() == ["name"]
    # an EXPLICIT contradiction still rejects: `extra` is registered as a
    # dimension, declaring it a tag is a class conflict (record-path parity)
    bad = spark.createDataFrame([(4, 1, "y")], "timestamp long, value long, extra string")
    with pytest.raises(SchemaError):
        engine.insert_frame("default", "default", "m", bad, tags=["extra"])


def test_insert_frame_requires_timestamp_and_value(engine, spark):
    from nsdb_spark.model import SchemaError

    with pytest.raises(SchemaError):
        engine.insert_frame(
            "default", "default", "m2",
            spark.createDataFrame([(1.0,)], "value double"),
        )


def test_insert_frame_retention_rejects(engine, spark):
    from nsdb_spark.engine import RetentionError

    engine.warehouse.init_metric("default", "default", "ret", retention_ms=1000)
    df = spark.createDataFrame([(1, 1.0)], "timestamp long, value double")
    with pytest.raises(RetentionError):
        engine.insert_frame("default", "default", "ret", df)


def test_insert_frame_corrupt_schema_raises_before_any_work(engine, spark):
    """A metric whose schema.json cannot be parsed is not a new metric:
    insert_frame raises at once, before any Spark job, and leaves the
    registry file as it was (it must not ingest the frame as a fresh
    metric and drop the registered field classes)."""
    import os

    engine.insert_bits("default", "default", "cm", [Bit(1, 5, {}, {"name": "a"})])
    p = os.path.join(engine.warehouse.metric_path("default", "default", "cm"), "schema.json")
    with open(p, "w") as fh:
        fh.write("{not json")
    df = spark.createDataFrame([(2, 7, "b")], "timestamp long, value long, name string")
    sc = spark.sparkContext
    sc.setJobGroup("corrupt-schema", "corrupt-schema")
    try:
        with pytest.raises(ValueError):
            engine.insert_frame("default", "default", "cm", df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("corrupt-schema")) == []
    with open(p) as fh:
        assert fh.read() == "{not json"


def test_insert_from_csv_and_json(engine, spark, tmp_path):
    csv = tmp_path / "in.csv"
    csv.write_text("timestamp,value,host\n1,1.5,h1\n2,2.5,h2\n")
    assert engine.insert_from_files(
        "default", "default", "filemetric", str(csv), fmt="csv"
    ) == 2
    jsonl = tmp_path / "in.json"
    jsonl.write_text(
        '{"timestamp": 3, "value": 3.5, "host": "h3"}\n'
        '{"timestamp": 4, "value": 4.5, "region": "eu"}\n'
    )
    assert engine.insert_from_files(
        "default", "default", "filemetric", str(jsonl), fmt="json"
    ) == 2
    rows = engine.execute("select * from filemetric order by timestamp").collect()
    assert len(rows) == 4
    assert rows[0]["host"] == "h1" and rows[3]["region"] == "eu"
    schema = engine.warehouse.get_schema("default", "default", "filemetric")
    # csv inferSchema int widened to BIGINT; union grew `region` later
    assert schema.field_type("value").value == "DECIMAL"
    assert set(schema.dimensions()) == {"host", "region"}


def test_optimize_metric_zorder_narrows_file_stats(engine, spark):
    import os
    from pyspark.sql import functions as F
    from nsdb_spark.model import Bit

    # 256 bits in one shard, two independent "axes" scrambled in arrival
    # order so appended files have full-range stats on both
    bits = [
        Bit(i, 1.0, {}, {"x": (i * 37) % 64, "y": (i * 53) % 64})
        for i in range(256)
    ]
    engine.insert_bits("default", "default", "zm", bits)
    dp = engine.warehouse.data_path("default", "default", "zm")

    def spans():
        df = spark.read.parquet(dp).withColumn("f", F.input_file_name())
        rows = (
            df.groupBy("f")
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .collect()
        )
        return sum((r["sx"] + r["sy"]) / 2 for r in rows) / len(rows), len(rows)

    engine.optimize_metric_zorder(
        "default", "default", "zm", ["x", "y"], bits=6, files_per_shard=4
    )
    after, nf = spans()
    # every file would span ~63 on both axes unsorted; z-order clustering
    # must cut the average bounding-box side sharply
    assert nf >= 2 and after <= 40
    # rows preserved
    assert engine.execute("select * from zm").count() == 256
    # unknown field rejected
    from nsdb_spark.model import SchemaError
    with pytest.raises(SchemaError):
        engine.optimize_metric_zorder("default", "default", "zm", ["nope"])


def test_distinct_rollup_routes_only_with_approx_opt_in(engine, spark, tmp_path):
    """HLL count-distinct serving: exact semantics by default (no route),
    estimate served from the registers only when the engine opted into
    approx_count_distinct; small cardinalities estimate exactly."""
    from fixtures import TEMPORAL_LONG_METRIC, load

    from nsdb_spark.engine import NsdbEngine

    sql = "select count(distinct name) from dm group by interval 3 s"
    load(engine, "dm", TEMPORAL_LONG_METRIC, shard_interval_ms=10000)
    exact = _rows(engine.execute(sql))
    engine.materialize_distinct_rollup("default", "default", "dm", "name", 1000)
    # default engine: exact semantics — must NOT route to the sketch
    plan = engine.execute(sql)._jdf.queryExecution().executedPlan().toString()
    assert not _hll_scan(plan)
    assert _rows(engine.execute(sql)) == exact

    approx = NsdbEngine(
        spark, engine.warehouse.root, approx_count_distinct=True
    )
    routed_df = approx.execute(sql)
    rplan = routed_df._jdf.queryExecution().executedPlan().toString()
    assert _hll_scan(rplan)  # scans registers, not raw
    # 1-3 distinct names per bucket: the corrected estimate is exact
    assert _rows(routed_df) == exact


def test_distinct_rollup_maintained_and_invalidated(engine, spark):
    from fixtures import TEMPORAL_LONG_METRIC, load

    from nsdb_spark.engine import NsdbEngine
    from nsdb_spark.model import Bit

    sql = "select count(distinct name) from dmm group by interval 3 s"
    load(engine, "dmm", TEMPORAL_LONG_METRIC, shard_interval_ms=10000)
    engine.materialize_distinct_rollup("default", "default", "dmm", "name", 1000)
    # in-bounds write: registers merged incrementally, stays registered
    engine.insert_bits(
        "default", "default", "dmm",
        [Bit(31000, 9, {}, {"name": "Zoe", "age": 1, "height": 1.0})],
    )
    assert ("hll", "name", 1000) in _registered(engine, "dmm")
    approx = NsdbEngine(spark, engine.warehouse.root, approx_count_distinct=True)
    assert _rows(approx.execute(sql)) == _rows(engine.execute(sql))
    # out-of-axis write invalidates (next shard)
    engine.insert_bits(
        "default", "default", "dmm",
        [Bit(10**7 + 1000, 1, {}, {"name": "Far", "age": 1, "height": 1.0})],
    )
    assert engine.warehouse.rollups("default", "default", "dmm") == []


def test_distinct_rollup_rejects_unknown_field(engine):
    """Both field-keyed rollup kinds check the field before building: an
    unknown field raises ValueError and registers nothing."""
    from fixtures import TEMPORAL_LONG_METRIC, load

    load(engine, "du", TEMPORAL_LONG_METRIC, shard_interval_ms=10000)
    with pytest.raises(ValueError, match="unknown hll field 'nope'"):
        engine.materialize_distinct_rollup("default", "default", "du", "nope", 1000)
    with pytest.raises(ValueError, match="unknown group field 'nope'"):
        engine.materialize_group_rollup("default", "default", "du", "nope")
    assert engine.warehouse.rollups("default", "default", "du") == []


def test_not_over_mixed_predicate_does_not_prune(engine):
    """NOT over (time AND non-time) must not complement an approximate
    interval: a row outside the inner time range but failing the
    non-time side still matches, so no shard may be pruned — and DELETE
    must rewrite it."""
    from nsdb_spark.model import Bit

    engine.warehouse.init_metric("default", "default", "npm", 10000)
    engine.insert_bits(
        "default", "default", "npm",
        [
            Bit(1000, 1, {}, {"host": "a"}),
            Bit(25000, 2, {}, {"host": "a"}),  # in time range, host matches
            Bit(26000, 3, {}, {"host": "b"}),  # in time range, host differs -> matches NOT
        ],
    )
    sql = "select * from npm where not (timestamp > 20000 and host = a)"
    got = sorted(r["timestamp"] for r in engine.execute(sql).collect())
    assert got == [1000, 26000]
    # DELETE with the same predicate must remove BOTH matching rows,
    # including the one in the recent shard a naive complement would skip
    engine.execute("delete from npm where not (timestamp > 20000 and host = a)")
    left = sorted(r["timestamp"] for r in engine.execute("select * from npm").collect())
    assert left == [25000]


def test_temporal_axis_clipped_to_data_extent(engine):
    """A WHERE range far wider than the data must not inflate the bucket
    axis: `timestamp > 0` over one shard yields that shard's buckets,
    not a row per interval since the epoch."""
    from nsdb_spark.model import Bit

    engine.warehouse.init_metric("default", "default", "clipm", 10000)
    engine.insert_bits(
        "default", "default", "clipm",
        [Bit(t, 1) for t in (1000, 5000, 9000)],
    )
    out = engine.execute(
        "select count(*) from clipm where timestamp > 0 group by interval 1 s"
    ).collect()
    assert len(out) == 10  # one shard / 1s buckets — not ~1.7e9 rows
    assert sum(r["count_value"] for r in out) == 3


def test_zorder_quantization_does_not_wrap_large_values(engine, spark):
    """Range-position quantization: values above the old bit mask must
    keep their ordering (65535 vs 65536 were wrapping to opposite cells),
    so per-file stats on the clustered column actually narrow."""
    from nsdb_spark.model import Bit

    engine.warehouse.init_metric("default", "default", "zbig", 10**9)
    # ids far above 2^16, two well-separated value clusters
    bits = [Bit(i, 1, {}, {"big_id": 10_000_000 + i}) for i in range(50)]
    bits += [Bit(100 + i, 1, {}, {"big_id": 90_000_000 + i}) for i in range(50)]
    engine.insert_bits("default", "default", "zbig", bits)
    engine.optimize_metric_zorder(
        "default", "default", "zbig", ["big_id"], bits=8, files_per_shard=2
    )
    # each rewritten file must cover a COMPACT big_id range: no file may
    # span both clusters
    import os

    dp = engine.warehouse.data_path("default", "default", "zbig")
    shard_dir = next(d for d in os.listdir(dp) if d.startswith("shard_start="))
    for f in os.listdir(os.path.join(dp, shard_dir)):
        if not f.endswith(".parquet"):
            continue
        vals = [
            r["big_id"]
            for r in spark.read.parquet(os.path.join(dp, shard_dir, f)).collect()
        ]
        assert max(vals) - min(vals) < 50_000_000  # one cluster per file


def test_rollup_maintenance_serialized_per_metric(engine, monkeypatch):
    """Rollup maintenance is read-merge-overwrite; two concurrent insert
    batches must never run the merge simultaneously for the same metric
    (lost update). Assert the per-metric lock actually serializes."""
    import threading
    import time as _time

    active = {"n": 0, "max": 0}
    guard = threading.Lock()

    def slow_locked(db, ns, metric, lo, hi, batch_df):
        with guard:
            active["n"] += 1
            active["max"] = max(active["max"], active["n"])
        _time.sleep(0.05)
        with guard:
            active["n"] -= 1

    monkeypatch.setattr(engine, "_maintain_rollups_locked", slow_locked)
    threads = [
        threading.Thread(
            target=engine._maintain_rollups_on_write,
            args=("default", "default", "cm", 0, 1000, None),
        )
        for _ in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert active["max"] == 1  # never two merges in flight for one metric


def test_insert_rejects_null_timestamp_or_value(engine, spark):
    """A bit without timestamp or value does not exist in NSDb; NULL
    values would also make rollup-served count/avg diverge from the raw
    path's NULL-skipping count."""
    import pytest

    from nsdb_spark.model import Bit, SchemaError

    engine.warehouse.init_metric("default", "default", "nn", 10000)
    with pytest.raises(SchemaError):
        engine.insert_bits("default", "default", "nn", [Bit(1000, None)])
    with pytest.raises(SchemaError):
        engine.insert_bits("default", "default", "nn", [Bit(None, 1)])
    df = spark.createDataFrame(
        [(1000, 1.0), (2000, None)], "timestamp long, value double"
    )
    with pytest.raises(SchemaError):
        engine.insert_frame("default", "default", "nn", df)
    # clean frames still insert
    ok = spark.createDataFrame([(1000, 1.0)], "timestamp long, value double")
    assert engine.insert_frame("default", "default", "nn", ok) == 1


def test_count_tag_not_served_from_rollup(engine, spark):
    """count(<tag>) skips NULL tags on the raw path; the rollup stores
    value-row partials, so routing it would overcount — it must stay on
    the raw path and keep matching pre-rollup results."""
    from nsdb_spark.model import Bit

    engine.warehouse.init_metric("default", "default", "ct", 10000)
    engine.insert_bits("default", "default", "ct", [
        Bit(1000, 1, {}, {"name": "a"}),
        Bit(2000, 2, {}, {"name": "b"}),
        Bit(3000, 3, {}, {}),  # no tag -> NULL name
    ])
    sql = "select count(name) from ct group by interval 5 s"
    raw = [tuple(r) for r in engine.execute(sql).collect()]
    engine.materialize_rollup("default", "default", "ct", 1000)
    routed = engine.execute(sql)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert not _rollup_scan(plan)  # raw path, not the rollup scan
    assert [tuple(r) for r in routed.collect()] == raw
    assert raw[0][-1] == 2  # NULL tag not counted


def test_identifiers_reject_path_traversal(engine):
    import pytest

    for bad in ("../evil", "a/b", "..", ".hidden", ""):
        with pytest.raises(ValueError):
            engine.warehouse.init_metric("default", "default", bad, 1000)
        with pytest.raises(ValueError):
            engine.warehouse.metric_path(bad, "default", "m")
    # interior dots are NOT traversal (no separators can appear) — "a..b"
    # is a legal metric name and must stay readable/droppable via the API
    assert engine.warehouse._safe("a..b") == "a..b"
    assert engine.warehouse._safe("v1.2.3") == "v1.2.3"


def test_corrupt_rollup_store_invalidates_and_serves_raw(engine):
    """A rollup store damaged on disk (not the benign maintenance-swap
    vanish) must not be silently retried forever: the read failure drops
    the registration, the query answers from the raw path, and the next
    materialize can rebuild the store."""
    import glob
    import os

    from nsdb_spark.model import Bit

    engine.warehouse.init_metric("default", "default", "cr", 10_000)
    engine.insert_bits("default", "default", "cr", [
        Bit(1000, 1, {}, {"host": "a"}),
        Bit(2000, 2, {}, {"host": "b"}),
    ])
    engine.materialize_group_rollup("default", "default", "cr", "host")
    [spec] = engine.warehouse.rollups("default", "default", "cr")
    assert (spec.kind, spec.field) == ("group", "host")
    path = engine.warehouse.rollup_path("default", "default", "cr", spec)
    files = glob.glob(os.path.join(path, "*.parquet"))
    assert files  # the store we are about to damage exists
    for f in files:
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    engine.spark.catalog.clearCache()
    got = sorted(tuple(r) for r in engine.execute(
        "select sum(value) from cr group by host"
    ).collect())
    assert got == [("a", 1.0), ("b", 2.0)] or got == [("a", 1), ("b", 2)]
    assert engine.warehouse.rollups("default", "default", "cr") == []


def test_insert_rejects_negative_timestamp(engine, spark):
    import pytest

    from nsdb_spark.model import Bit, SchemaError

    engine.warehouse.init_metric("default", "default", "neg", 10000)
    with pytest.raises(SchemaError):
        engine.insert_bits("default", "default", "neg", [Bit(-5, 1)])
    df = spark.createDataFrame([(-5, 1.0)], "timestamp long, value double")
    with pytest.raises(SchemaError):
        engine.insert_frame("default", "default", "neg", df)


def test_rejected_bulk_ingest_leaves_schema_registry_untouched(engine, spark):
    """insert_frame must validate BEFORE mutating the registry: a batch
    rejected for NULL values (or retention) must not durably register
    its new fields — reads would project a phantom NULL column forever
    and a later legitimate ingest could then type-conflict."""
    import pytest

    from nsdb_spark.model import Bit, SchemaError

    engine.warehouse.init_metric("default", "default", "vtm", 10_000)
    engine.insert_bits("default", "default", "vtm", [Bit(1000, 1.0)])
    before = set(engine.warehouse.get_schema("default", "default", "vtm").fields)
    bad = spark.createDataFrame(
        [(2000, None, "eu")], "timestamp long, value double, region string"
    )
    with pytest.raises(SchemaError):
        engine.insert_frame("default", "default", "vtm", bad)
    after = set(engine.warehouse.get_schema("default", "default", "vtm").fields)
    assert after == before  # 'region' NOT registered by the rejected batch
    # a clean batch with the field still lands normally afterwards
    ok = spark.createDataFrame(
        [(3000, 2.0, "us")], "timestamp long, value double, region string"
    )
    assert engine.insert_frame("default", "default", "vtm", ok) == 1
    assert "region" in engine.warehouse.get_schema("default", "default", "vtm").fields


def test_empty_insert_frame_returns_promptly_and_leaves_nothing(engine, spark):
    """A zero-row batch writes no shard file: insert_frame returns 0
    without waiting on figures that never come, registers none of the
    frame's fields, and leaves data/ and the staging area as they were —
    for a brand-new metric, no directory at all."""
    import os
    import threading

    engine.warehouse.init_metric("default", "default", "ef", 10_000)
    engine.insert_bits("default", "default", "ef", [Bit(1000, 1.0)])
    before = engine.warehouse.get_schema("default", "default", "ef").to_dict()
    data = engine.warehouse.data_path("default", "default", "ef")
    files_before = sorted(os.walk(data))
    empty = spark.createDataFrame([], "timestamp long, value double, region string")
    for metric in ("ef", "fresh"):
        out = {}
        t = threading.Thread(
            target=lambda m=metric: out.update(n=engine.insert_frame("default", "default", m, empty))
        )
        t.start()
        t.join(timeout=180)
        assert not t.is_alive() and out == {"n": 0}
    assert engine.warehouse.get_schema("default", "default", "ef").to_dict() == before
    assert sorted(os.walk(data)) == files_before
    staging = os.path.join(engine.warehouse.metric_path("default", "default", "ef"), ".staging")
    assert not os.path.exists(staging) or os.listdir(staging) == []
    assert engine.warehouse.metrics("default", "default") == ["ef"]
    assert not os.path.exists(engine.warehouse.metric_path("default", "default", "fresh"))


def test_insert_frame_pins_batch_without_persisting(engine, spark):
    """Rollup maintenance merges exactly the rows written, even from a
    source that yields different rows on each evaluation (an unseeded
    rand() value column): the rollup-routed sum equals the raw-path sum.
    No insert leaves a persisted RDD behind, whether it lands or is
    rejected for retention, NULL values or a type conflict."""
    from pyspark.sql import functions as F

    jsc = spark.sparkContext._jsc

    def persisted() -> set:
        # ids, not a count: the context cleaner may release an older
        # test's checkpoint RDD meanwhile, which no insert left behind
        return set(jsc.getPersistentRDDs().keys())

    engine.warehouse.init_metric("default", "default", "pb", 10_000)
    engine.insert_bits("default", "default", "pb", [Bit(1000, 1.0, {}, {"g": "a"})])
    engine.materialize_group_rollup("default", "default", "pb", "g")
    baseline = persisted()
    batch = spark.range(200).select(
        (F.col("id") * 37 + 2000).alias("timestamp"),
        F.rand().alias("value"),
        F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("g"),
    )
    assert engine.insert_frame("default", "default", "pb", batch) == 200
    assert persisted() <= baseline
    sql = "select sum(value) from pb group by g"
    assert engine.explain_select(sql)["rollup_routed"]
    routed = dict(rows(engine.execute(sql)))
    raw = dict(
        rows(engine.read_metric("default", "default", "pb").groupBy("g").agg(F.sum("value")))
    )
    assert routed.keys() == raw.keys() == {"a", "b"}
    for g in raw:
        assert routed[g] == pytest.approx(raw[g], rel=1e-9)

    engine.warehouse.init_metric("default", "default", "pr", 10_000, retention_ms=1000)
    engine.now_fn = lambda: 100_000
    engine.insert_bits("default", "default", "pr", [Bit(99_500, 1.0, {}, {"g": "a"})])
    rejected = [
        (RetentionError, spark.createDataFrame([(1, 2.0, "a")], "timestamp long, value double, g string")),
        (SchemaError, spark.createDataFrame([(99_600, None, "a")], "timestamp long, value double, g string")),
        (SchemaError, spark.createDataFrame([(99_600, 2.0, 7)], "timestamp long, value double, g long")),
    ]
    # (a rollup-routed read pins its store, so the baseline is retaken)
    baseline = persisted()
    for err, df in rejected:
        with pytest.raises(err):
            engine.insert_frame("default", "default", "pr", df)
        assert persisted() <= baseline
    assert engine.execute("select count(*) from pr").collect()[0][0] == 1


def test_second_engine_sees_rows_once_published(engine, spark, monkeypatch):
    """Out-of-process visibility: another engine on the same root caches
    its reads under Warehouse.mtimes. An insert registers its schema
    before its rows are published, so a read in between caches the old
    rows under the new schema mark; the data/ mark must move only after
    the rename step, and the next read must see the new rows."""
    from nsdb_spark.catalog import Warehouse
    from nsdb_spark.engine import NsdbEngine
    from nsdb_spark.sql.parser import parse

    engine.warehouse.init_metric("default", "default", "xe", 10_000)
    engine.insert_bits("default", "default", "xe", [Bit(1000, 1.0)])
    other = NsdbEngine(spark, engine.warehouse.root)
    stmt = parse("select count(*) from xe", db="default", namespace="default")
    assert other.collect_select(stmt)[0][0] == 1
    marks = {}
    append = Warehouse.append_shards

    def spy(self, db, ns, metric, write, check=None):
        marks["before"] = self.mtimes(db, ns, metric)

        def checked(files):
            check(files)
            marks["checked"] = self.mtimes(db, ns, metric)
            # staged, registered, not yet published
            assert other.collect_select(stmt)[0][0] == 1

        published = append(self, db, ns, metric, write, checked)
        marks["after"] = self.mtimes(db, ns, metric)
        return published

    monkeypatch.setattr(Warehouse, "append_shards", spy)
    df = spark.createDataFrame([(2000, 2.0), (3000, 3.0)], "timestamp long, value double")
    assert engine.insert_frame("default", "default", "xe", df) == 2
    assert marks["checked"][1] == marks["before"][1]
    assert marks["after"][1] != marks["checked"][1]
    assert other.collect_select(stmt)[0][0] == 3


def test_concurrent_first_appends_publish_every_accepted_batch(tmp_path):
    """Concurrent first writes of brand-new metrics, every other one
    rejected by its check: a rejected write's cleanup removes the
    directories it created, yet no concurrent staging fails on them,
    every accepted file is published and nothing is left staged."""
    import os
    import sys
    import threading
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nsdb_spark.catalog import Warehouse

    wh = Warehouse(str(tmp_path / "wh"))

    def write(path):
        d = os.path.join(path, "shard_start=0")
        os.makedirs(d)
        table = pa.table({"timestamp": [1], "value": [1.0]})
        pq.write_table(table, os.path.join(d, f"part-{uuid.uuid4()}.parquet"))

    def reject(files):
        raise ValueError("rejected")

    published, errors = [], []

    def worker(i):
        for j in range(20):
            try:
                published.extend(wh.append_shards(
                    "d", "n", f"m{j}", write, reject if (i + j) % 2 else None
                ))
            except ValueError:
                pass
            except Exception as e:  # collected for the assert below
                errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(published) == 80 and all(os.path.isfile(f) for f in published)
    for j in range(20):
        staging = os.path.join(wh.metric_path("d", "n", f"m{j}"), ".staging")
        assert not os.path.exists(staging) or os.listdir(staging) == []


def test_long_temporal_axis_plans_off_serving_session(engine):
    """A 1 s interval over one default 30-day shard is a 2.59M-bucket
    axis, past the broadcast cap: it plans on the analytics session, not
    in one interpreted partition. A 1 h interval over the same shard
    still serves."""
    engine.insert_bits("default", "default", "ax", [Bit(1000, 1.0), Bit(2000, 2.0)])
    assert engine.warehouse.locations("default", "default", "ax") == [0]
    df = engine.execute("select sum(value) from ax group by interval 1s")
    assert df.sparkSession is engine.spark
    df = engine.execute("select sum(value) from ax group by interval 1h")
    assert df.sparkSession is engine._serving_session()


def test_explain_select_reports_pruning_and_plan_class(engine):
    from nsdb_spark.model import Bit

    engine.warehouse.init_metric("default", "default", "expm", 10000)
    engine.insert_bits(
        "default", "default", "expm",
        [Bit(t, float(t), {}, {"g": "x"}) for t in range(0, 100000, 5000)],
    )
    # 10 shards on disk; ts in [0, 15000] touches shards 0 and 10000
    info = engine.explain_select(
        "select * from expm where timestamp in (0, 15000)"
    )
    assert info["plan_class"] == "ParsedSimpleQuery"
    assert info["shards_total"] == 10
    assert info["shards_scanned"] == 2
    assert info["time_ranges"] == [[0, 15000]]
    assert info["rollup_routed"] is False
    assert "Scan" in info["physical_plan"]
    # unconstrained query scans everything; agg classifies differently
    info2 = engine.explain_select("select sum(value) from expm")
    assert info2["plan_class"] == "ParsedGlobalAggregatedQuery"
    assert info2["shards_scanned"] == 10
    # non-SELECT is rejected
    import pytest

    with pytest.raises(ValueError, match="SELECT"):
        engine.explain_select("drop metric expm")


def test_explain_select_reports_rollup_routing(engine):
    from nsdb_spark.model import Bit

    engine.warehouse.init_metric("default", "default", "expr", 10000)
    engine.insert_bits(
        "default", "default", "expr",
        [Bit(t, float(t), {}, {"g": "x"}) for t in range(0, 50000, 1000)],
    )
    engine.materialize_rollup("default", "default", "expr", fine_ms=5000)
    info = engine.explain_select(
        "select sum(value) from expr group by interval 10s"
    )
    assert info["rollup_routed"] is True
    assert info["plan_class"] == "ParsedTemporalAggregatedQuery"


# ---------------------------------------------------------------- dump/restore
# Parity: reference NsdbRestore.scala + restore.proto (export/import a
# previously dumped bundle); atomicity + verification are the Spark-side
# additions the Parquet layout makes possible.


def _fresh_engine(spark, tmp_path, name):
    from nsdb_spark.engine import NsdbEngine

    return NsdbEngine(spark, str(tmp_path / name))


def test_dump_restore_roundtrip_hash_matches(engine, spark, tmp_path):
    from fixtures import LONG_METRIC, load

    load(engine, "longMetric", LONG_METRIC, shard_interval_ms=5000)
    sql = "select * from longMetric order by timestamp"
    before = rows(engine.execute(sql))
    man = engine.dump_metric_bundle(
        "default", "default", "longMetric", str(tmp_path / "bundle")
    )
    assert man["metric"] == "longMetric" and man["n_files"] >= 2
    assert man["info"]["shardInterval"] == 5000
    # restore into a brand-new warehouse: query results hash-match
    other = _fresh_engine(spark, tmp_path, "wh2")
    got = other.restore_metric_bundle(str(tmp_path / "bundle"))
    assert got["metric"] == "longMetric"
    assert rows(other.execute(sql)) == before
    assert (
        other.warehouse.get_schema("default", "default", "longMetric").to_json()
        == engine.warehouse.get_schema("default", "default", "longMetric").to_json()
    )
    assert other.warehouse.get_info("default", "default", "longMetric") == {
        "shardInterval": 5000,
        "retention": 0,
    }
    assert other.warehouse.locations(
        "default", "default", "longMetric"
    ) == engine.warehouse.locations("default", "default", "longMetric")


def test_dump_restore_preserves_rollup_registrations(engine, spark, tmp_path):
    from fixtures import TEMPORAL_LONG_METRIC, load

    load(engine, "rm", TEMPORAL_LONG_METRIC, shard_interval_ms=10000)
    _materialize_all_kinds(engine, "rm")
    engine.dump_metric_bundle("default", "default", "rm", str(tmp_path / "b"))
    other = _fresh_engine(spark, tmp_path, "wh3")
    other.restore_metric_bundle(str(tmp_path / "b"))
    assert _registered(other, "rm") == _ALL_KINDS
    assert other.warehouse.rollups("default", "default", "rm") == \
        engine.warehouse.rollups("default", "default", "rm")
    # the restored rollup stores still serve: temporal and group routes,
    # and the percentile sketch
    sql = "select count(*) from rm group by interval 2 s"
    routed = other.execute(sql)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert _rollup_scan(plan)
    assert _rows(routed) == _rows(engine.execute(sql))
    sql = "select sum(value) from rm group by name"
    routed = other.execute(sql)
    assert _is_group_rollup_plan(routed._jdf.queryExecution().executedPlan().toString())
    assert sorted(routed.collect()) == sorted(engine.execute(sql).collect())
    assert other.percentile("default", "default", "rm", [0.5]).collect() == \
        engine.percentile("default", "default", "rm", [0.5]).collect()


def test_restore_under_new_name_and_overwrite_rules(engine, spark, tmp_path):
    from fixtures import LONG_METRIC, load

    load(engine, "longMetric", LONG_METRIC)
    engine.dump_metric_bundle(
        "default", "default", "longMetric", str(tmp_path / "b")
    )
    # same warehouse, new metric name
    engine.restore_metric_bundle(str(tmp_path / "b"), metric="copyMetric")
    assert rows(engine.execute("select count(*) from copyMetric")) == rows(
        engine.execute("select count(*) from longMetric")
    )
    # existing target refused without overwrite=True
    with pytest.raises(ValueError, match="already exists"):
        engine.restore_metric_bundle(str(tmp_path / "b"))
    # with overwrite: mutate, then restore rolls back to the dumped state
    engine.insert_bits(
        "default", "default", "longMetric",
        [Bit(99, 1, {"surname": "Y"}, {"name": "X"})],
    )
    n_mut = rows(engine.execute("select count(*) from longMetric"))
    engine.restore_metric_bundle(str(tmp_path / "b"), overwrite=True)
    n_restored = rows(engine.execute("select count(*) from longMetric"))
    assert n_restored != n_mut and n_restored == [(len(LONG_METRIC),)]


def test_restore_rejects_truncated_or_bogus_bundle(engine, spark, tmp_path):
    import os

    from fixtures import LONG_METRIC, load

    load(engine, "longMetric", LONG_METRIC)
    b = str(tmp_path / "b")
    engine.dump_metric_bundle("default", "default", "longMetric", b)
    # truncate one data file: restore must refuse BEFORE touching the target
    victim = None
    for base, _d, files in os.walk(os.path.join(b, "data")):
        for f in files:
            if f.endswith(".parquet"):
                victim = os.path.join(base, f)
                break
    with open(victim, "wb") as fh:
        fh.write(b"short")
    other = _fresh_engine(spark, tmp_path, "wh4")
    with pytest.raises(ValueError, match="truncated"):
        other.restore_metric_bundle(b)
    assert not other.warehouse.exists("default", "default", "longMetric")
    # a random directory is not a bundle
    os.makedirs(str(tmp_path / "junk"))
    with pytest.raises(ValueError, match="manifest"):
        other.restore_metric_bundle(str(tmp_path / "junk"))


def test_dump_refuses_missing_metric_and_existing_dest(engine, tmp_path):
    from nsdb_spark.catalog import MetricNotFound

    with pytest.raises(MetricNotFound):
        engine.dump_metric_bundle("default", "default", "nope", str(tmp_path / "x"))
    from fixtures import LONG_METRIC, load

    load(engine, "longMetric", LONG_METRIC)
    dest = tmp_path / "taken"
    dest.mkdir()
    with pytest.raises(ValueError, match="already exists"):
        engine.dump_metric_bundle("default", "default", "longMetric", str(dest))


# ---------------------------------------------------------------- plan cache


def test_plan_cache_hits_and_write_invalidation(long_engine):
    """Repeated identical SELECTs serve the compiled plan from the cache
    (the reference's Gatling/gRPC point-query shape); any insert bumps the
    metric version so the next call replans and sees the new row — and a
    schema-unioning insert's new field appears in SELECT *."""
    sql = "select * from longMetric order by timestamp limit 3"
    df1 = long_engine.execute(sql)
    df2 = long_engine.execute(sql)
    assert df2 is df1  # cache hit returns the same compiled frame
    n_before = len(long_engine.execute("select * from longMetric").collect())
    long_engine.insert_bits(
        "default", "default", "longMetric",
        [Bit(999999, 42, {"surname": "Doe"}, {"name": "Zed", "fresh": "yes"})],
    )
    df3 = long_engine.execute("select * from longMetric")
    out = df3.collect()
    assert len(out) == n_before + 1  # replanned: new row visible
    assert "fresh" in df3.columns  # schema union visible post-invalidation


def test_plan_cache_bypasses_relative_time(long_engine):
    """Relative-`now` statements compile the clock into literals — they
    must never be served from the cache."""
    sql = "select * from longMetric where timestamp >= now - 1 s"
    # fixture timestamps are 1..10 ms: now=1005 keeps ts>=5, now=2000 none
    a = long_engine.execute(sql, time_context=TimeContext(1005))
    b = long_engine.execute(sql, time_context=TimeContext(2000))
    assert a is not b
    assert len(a.collect()) == 3 and len(b.collect()) == 0


def test_plan_cache_delete_and_drop_invalidate(long_engine):
    sql = "select count(*) from longMetric"
    before = long_engine.execute(sql).collect()[0][0]
    long_engine.execute("delete from longMetric where timestamp >= 8")
    after = long_engine.execute(sql).collect()[0][0]
    assert after < before
    long_engine.execute("drop metric longMetric")
    from nsdb_spark.catalog import MetricNotFound

    with pytest.raises(MetricNotFound):
        long_engine.execute(sql)


def test_result_cache_serves_and_invalidates(long_engine):
    """collect_select caches collected rows under the plan-cache token:
    identical repeats skip the Spark action; any write invalidates."""
    from nsdb_spark.sql.parser import parse

    stmt = parse("select * from longMetric", db="default", namespace="default")
    r1 = long_engine.collect_select(stmt)
    r2 = long_engine.collect_select(stmt)
    assert r2 == r1
    # hits return a COPY: mutating a served result must not poison the
    # cache for later callers
    r2.append("POISON")
    assert long_engine.collect_select(stmt) == r1
    long_engine.insert_bits(
        "default", "default", "longMetric",
        [Bit(11, 7, {"surname": "Doe"}, {"name": "New"})],
    )
    r3 = long_engine.collect_select(stmt)
    assert len(r3) == len(r1) + 1


def test_serving_session_carries_tuned_and_point_confs(engine):
    """The serving session gets the shared library defaults
    (session.py — codegen fallback at the JIT ceiling) plus the
    point-plan parallelism caps, without touching the analytics
    session's confs."""
    s = engine._serving_session()
    assert s.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000"
    assert (
        s.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    )
    assert s.conf.get("spark.sql.files.minPartitionNum") == "1"
    assert s.conf.get("spark.sql.leafNodeDefaultParallelism") == "1"
    assert s.conf.get("spark.sql.shuffle.partitions") == "1"
    assert s.conf.get("spark.sql.codegen.wholeStage") == "false"
    # isolation: the analytics session keeps its own partitioning
    assert engine.spark.conf.get("spark.sql.shuffle.partitions") != "1"


def test_py4j_cache_holds_one_gateway_client():
    """The reflection caches serve one gateway client at a time: a lookup
    through a different client empties both dicts before it caches, so a
    replaced gateway's handles are released and the caches stay bounded
    by one gateway's names. Fake clients, no JVM involved."""
    from nsdb_spark import py4j_cache

    class Handle:
        pass

    client_a, client_b = object(), object()
    calls = []

    def resolve(v):
        return lambda: calls.append(v) or v

    member, view = py4j_cache._class_member_cache, py4j_cache._view_class_cache
    h1, h2, h3 = Handle(), Handle(), Handle()
    assert py4j_cache._cached(member, ("C", "m"), client_a, resolve(h1), (Handle,)) is h1
    assert py4j_cache._cached(view, ("v", "C"), client_a, resolve(h2), (Handle,)) is h2
    # a hit through the same client resolves nothing
    assert py4j_cache._cached(member, ("C", "m"), client_a, resolve(h3), (Handle,)) is h1
    assert calls == [h1, h2]
    # a value of a type outside `keep` is returned but never cached
    assert py4j_cache._cached(member, ("C", "f"), client_a, resolve(7), (Handle,)) == 7
    assert ("C", "f", id(client_a)) not in member
    # a second client empties BOTH caches, then caches its own handle
    assert py4j_cache._cached(member, ("C", "m"), client_b, resolve(h3), (Handle,)) is h3
    assert calls == [h1, h2, 7, h3]
    assert list(member.items()) == [(("C", "m", id(client_b)), h3)]
    assert view == {}


def test_py4j_reflection_cache_semantics(spark):
    """The py4j reflection caches (session.py/py4j_cache.py) memoize
    only stateless handles: static-method members and resolved classes
    are cached (same object back, still callable); static FIELD reads —
    which return the field's current value — are never cached."""
    from nsdb_spark import py4j_cache

    jvm = spark.sparkContext._jvm
    integer = getattr(jvm, "java.lang.Integer")
    m1 = integer.parseInt
    m2 = integer.parseInt
    assert m1 is m2  # static method member served from the cache
    assert m1("41") == 41 and m2("42") == 42
    # class resolution through the JVMView is cached and identical
    c1 = getattr(jvm, "java.lang.Integer")
    assert c1 is integer
    # a static field returns its value and must NOT enter the cache
    assert integer.MAX_VALUE == 2147483647
    assert not any(
        k[0] == "java.lang.Integer" and k[1] == "MAX_VALUE"
        for k in py4j_cache._class_member_cache
    )


def test_point_serving_route_interpreted_and_identical(long_engine):
    """A shard-pruned plain SELECT with a small LIMIT plans on the
    interpreted serving session (no per-literal Janino compile: the plan
    shows no WholeStageCodegen span) with the shard conjunct folded into
    ONE Filter, and returns exactly what the codegen session returns.
    DISTINCT and LIMIT-less statements stay on the default session."""
    from nsdb_spark.sql.parser import parse

    stmt = parse(
        "select * from longMetric where timestamp >= 2 "
        "order by timestamp limit 3",
        db="default", namespace="default",
    )
    df, parsed, routed = long_engine._plan_select(stmt)
    assert not routed
    assert df.sparkSession is long_engine._serving_session()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WholeStageCodegen" not in plan
    assert [r["timestamp"] for r in df.collect()] == [2, 4, 6]

    # parity with the codegen route: force it by exceeding the gate
    big = parse(
        "select * from longMetric where timestamp >= 2 "
        "order by timestamp limit 100000",
        db="default", namespace="default",
    )
    dfd, _, _ = long_engine._plan_select(big)
    assert dfd.sparkSession is long_engine.spark
    assert [r["timestamp"] for r in dfd.collect()][:3] == [2, 4, 6]

    # DISTINCT is data-sized regardless of LIMIT: default session
    dist = parse(
        "select distinct name from longMetric limit 3",
        db="default", namespace="default",
    )
    dfq, _, _ = long_engine._plan_select(dist)
    assert dfq.sparkSession is long_engine.spark

    # a write invalidates the serving frame cache too (shared token)
    long_engine.insert_bits(
        "default", "default", "longMetric",
        [Bit(3, 9, {"surname": "Doe"}, {"name": "Zed"})],
    )
    df2, _, _ = long_engine._plan_select(stmt)
    assert [r["timestamp"] for r in df2.collect()] == [2, 3, 4]


def test_shape_cache_mutation_replaces_stale_entry(long_engine):
    """A write invalidates a statement's cached rows; the NEXT execution
    re-executes, sees the new row, and re-primes the statement's entry
    (a stale entry must be replaced, not wedge the statement into
    permanent misses), so a repeat is served with no replan."""
    from nsdb_spark.sql.parser import parse

    def q(k):
        stmt = parse(
            f"select * from longMetric order by timestamp desc limit {k}",
            db="default", namespace="default",
        )
        return [r["timestamp"] for r in long_engine.collect_select(stmt)]

    assert q(3) == [10, 8, 6]
    long_engine.insert_bits(
        "default", "default", "longMetric",
        [Bit(99, 1, {"surname": "Doe"}, {"name": "Zed"})],
    )
    assert q(3) == [99, 10, 8]  # stale rows not served
    plans = []
    orig = long_engine._plan_select
    long_engine._plan_select = lambda s, tc=None, **kw: (
        plans.append(1), orig(s, tc, **kw),
    )[1]
    try:
        assert q(3) == [99, 10, 8]  # re-primed: served with no replan
    finally:
        long_engine._plan_select = orig
    assert plans == []


def test_novel_limit_read_analyzes_once(long_engine, monkeypatch):
    """A novel plain `... LIMIT k` read reads the schema and runs the
    analyzer once: the route decision's analysis is the plan's too. Its
    rows are the LIMIT's prefix of the full result."""
    from nsdb_spark import analyzer
    from nsdb_spark.sql.parser import parse

    def stmt(sql):
        return parse(sql, db="default", namespace="default")

    # warm the base frame, so its own schema read is not counted (an
    # ordered read: an unordered one is read from the shard files)
    long_engine.collect_select(stmt("select * from longMetric order by timestamp limit 1"))
    calls = {"analyze": 0, "get_schema": 0}
    orig_analyze = analyzer.analyze
    orig_schema = long_engine.warehouse.get_schema

    def analyze(*a, **kw):
        calls["analyze"] += 1
        return orig_analyze(*a, **kw)

    def get_schema(*a, **kw):
        calls["get_schema"] += 1
        return orig_schema(*a, **kw)

    monkeypatch.setattr(analyzer, "analyze", analyze)
    monkeypatch.setattr(long_engine.warehouse, "get_schema", get_schema)
    got = long_engine.collect_select(
        stmt("select * from longMetric where timestamp >= 4 order by timestamp limit 2")
    )
    assert [r["timestamp"] for r in got] == [4, 6]
    assert calls == {"analyze": 1, "get_schema": 1}
    # an aggregate LIMIT read: still once
    calls.update(analyze=0, get_schema=0)
    got = long_engine.collect_select(stmt("select count(*) from longMetric limit 3"))
    assert [tuple(r) for r in got] == [(3,)]
    assert calls == {"analyze": 1, "get_schema": 1}


def test_token_cache_exact_token_monotone_put_and_lru():
    """TokenCache, the engine's one cache policy: a hit needs the exact
    token; a put loses only to a stored entry with a NEWER in-process
    version (token[0]) — so it still wins after the mtime components
    regress — and runs its publish hook only when it wins; past the cap
    the least recently SERVED entry goes first."""
    from nsdb_spark.engine import TokenCache

    c = TokenCache()
    c.put("k", (1, 5, 5), "v1")
    assert c.get("k", (1, 5, 5)) == "v1"
    assert c.get("k", (1, 5, 6)) is None and c.get("k", (2, 5, 5)) is None
    # mtime regression at the same version: the put wins
    c.put("k", (1, 100, 100), "v2")
    c.put("k", (1, 3, 3), "v3")
    assert c.get("k", (1, 3, 3)) == "v3"
    # an older version loses to the stored newer one, and does not publish
    published = []
    c.put("k", (2, 1, 1), "v4", publish=lambda: published.append("v4"))
    c.put("k", (1, 9, 9), "v5", publish=lambda: published.append("v5"))
    assert c.get("k", (1, 9, 9)) is None and c.get("k", (2, 1, 1)) == "v4"
    assert published == ["v4"]
    # LRU by service: at the cap, serving "k" (the oldest put) makes the
    # next-oldest entry the eviction victim
    for i in range(TokenCache.CAP - 1):
        c.put(i, (0, 0, 0), i)
    assert c.get("k", (2, 1, 1)) == "v4"
    c.put("m", (0, 0, 0), "m")
    assert c.get(0, (0, 0, 0)) is None
    assert c.get(1, (0, 0, 0)) == 1
    assert c.get("k", (2, 1, 1)) == "v4" and c.get("m", (0, 0, 0)) == "m"
    c.clear()
    assert c.get("k", (2, 1, 1)) is None


def test_shape_cache_store_survives_mtime_regression(long_engine):
    """An out-of-process drop+recreate can REGRESS the token's mtime
    components; the store guard compares only the monotone in-process
    mutation counter, so the statement's own key re-primes on the next
    execution instead of wedging into permanent misses (serving still
    requires exact token equality, so nothing stale is ever returned)."""
    from nsdb_spark.sql.parser import parse

    stmt = parse(
        "select * from longMetric order by timestamp limit 2",
        db="default", namespace="default",
    )
    long_engine.collect_select(stmt)
    entries = long_engine._plans._entries
    ((key, (tok, ent)),) = list(entries.items())
    assert key == ("default", "default", "longMetric", repr(stmt))
    # simulate a stored token whose mtime components sit in the future
    # of every token this engine will ever compute again, with no rows
    # (so the serve path misses)
    entries[key] = (
        (tok[0], tok[1] + 10**15, tok[2] + 10**15),
        ent._replace(rows=None),
    )
    assert [r["timestamp"] for r in long_engine.collect_select(stmt)] == [1, 2]
    cur_tok, cur = entries[key]
    assert cur_tok == long_engine._cache_token("default", "default", "longMetric")
    assert cur.rows is not None  # re-primed: a repeat serves the rows


def test_limit_read_caches_its_own_rows_only(long_engine):
    """A novel `... ORDER BY timestamp LIMIT k` read fetches k rows: it
    stores at most k rows under its own statement fingerprint and no
    entry under the LIMIT-stripped statement."""
    import dataclasses

    from nsdb_spark.sql.parser import parse

    stmt = parse(
        "select * from longMetric order by timestamp limit 2",
        db="default", namespace="default",
    )
    got = long_engine.collect_select(stmt)
    assert [r["timestamp"] for r in got] == [1, 2]
    entries = long_engine._plans._entries
    assert list(entries) == [("default", "default", "longMetric", repr(stmt))]
    (_, ent), = entries.values()
    assert len(ent.rows) <= 2
    stripped = repr(dataclasses.replace(stmt, limit=None))
    assert not any(key[3] == stripped for key in entries)


def test_plan_put_keeps_file_read_rows(long_engine):
    """Planning a statement (explain_select, execute_select) whose rows a
    shard-file read cached under the same token keeps those rows: the
    next collect_select serves them with no file read and no plan. The
    other way round, a shard-file read keeps the plan cached before it."""
    from nsdb_spark.sql.parser import parse

    sql = "select count(*) from longMetric group by name"
    stmt = parse(sql, db="default", namespace="default")
    first = long_engine.collect_select(stmt)
    assert long_engine.explain_select(sql)["route"] == "files"
    calls = []

    def no_read(*a, **k):
        calls.append(a)
        raise AssertionError("read or planned again")

    long_engine._read_aggregate_rows = no_read
    long_engine._plan_select = no_read
    try:
        assert long_engine.collect_select(stmt) == first
    finally:
        del long_engine._read_aggregate_rows
        del long_engine._plan_select
    assert calls == []
    other = parse(
        "select sum(value) from longMetric group by name",
        db="default", namespace="default",
    )
    df = long_engine.execute_select(other)
    long_engine.collect_select(other)
    assert long_engine.execute_select(other) is df


def test_shape_cache_excludes_aggregate_classes(long_engine):
    """Aggregate statements' VALUES depend on the limit (global count
    clamps to LIMIT — SURVEY §2.5), so they must keep full-fingerprint
    caching: correct clamped values per limit, and no shape entry."""
    from nsdb_spark.sql.parser import parse

    for k, want in ((3, 3), (20, 6)):
        stmt = parse(
            f"select count(*) from longMetric limit {k}",
            db="default", namespace="default",
        )
        assert long_engine.collect_select(stmt)[0][0] == want
    assert not any(
        "count" in key[3] and "limit=None" in key[3]
        for key in long_engine._plans._entries
    )


def test_shape_cache_threaded_write_read_coherence(long_engine):
    """Distinct-limit queries racing inserts must never serve a slice
    older than the last COMPLETED insert — the shape cache's serve path
    requires exact token equality, and every insert bumps the version
    before returning."""
    import threading

    from nsdb_spark.sql.parser import parse

    base_rows = 6  # the fixture's row count
    errors = []

    def count_at_least(k):
        stmt = parse(
            f"select * from longMetric limit {k}",
            db="default", namespace="default",
        )
        return len(long_engine.collect_select(stmt))

    def writer():
        for i in range(4):
            long_engine.insert_bits(
                "default", "default", "longMetric",
                [Bit(2000 + i, i, {"surname": "Doe"}, {"name": f"s{i}"})],
            )
            # a query issued strictly after this insert returned must
            # see all rows written so far (limit above table size)
            seen = count_at_least(1000)
            if seen < base_rows + i + 1:
                errors.append(("writer", i, seen))

    def reader():
        for j in range(12):
            seen = count_at_least(1000)
            if seen < base_rows:
                errors.append(("reader", j, seen))

    t1, t2 = threading.Thread(target=writer), threading.Thread(target=reader)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    assert count_at_least(1000) == base_rows + 4


def test_plan_cache_threaded_write_read_coherence(long_engine):
    """ThreadingHTTPServer-shape stress: queries racing inserts must never
    serve a count older than the last COMPLETED insert (the version bump
    happens before insert_bits returns)."""
    import threading

    from nsdb_spark.sql.parser import parse

    stmt = parse("select count(*) from longMetric", db="default", namespace="default")
    base = long_engine.collect_select(stmt)[0][0]
    errors = []

    def writer():
        for i in range(5):
            long_engine.insert_bits(
                "default", "default", "longMetric",
                [Bit(1000 + i, i, {"surname": "Doe"}, {"name": f"w{i}"})],
            )
            # a query issued strictly after this insert returned must see it
            seen = long_engine.collect_select(stmt)[0][0]
            if seen < base + i + 1:
                errors.append((i, seen))

    def reader():
        for _ in range(20):
            n = long_engine.collect_select(stmt)[0][0]
            if n < base:
                errors.append(("reader", n))

    t1, t2 = threading.Thread(target=writer), threading.Thread(target=reader)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    assert long_engine.collect_select(stmt)[0][0] == base + 5


def test_temporal_disjoint_with_grace_clips_each_axis(temporal_engine):
    """SINCE grace under a disjoint WHERE: the reference clips each
    per-interval lower bound at now - grace and drops intervals wholly
    before it (computeRangesForIntervalAndCondition,
    TimeRangeManager.scala:109-124)."""
    # intervals: [0, 59999] and [130001, inf); now=200000, grace 80 s
    # → cutoff 120000: the lower interval dies entirely, the upper axis
    # survives clipped to [130001, 200000]
    df = temporal_engine.execute(
        "select count(*) from temporalLongMetric "
        "where not timestamp in (60000, 130000) "
        "group by interval 30s since 80 s",
        time_context=TimeContext(200000),
    )
    out = rows(df)
    assert [r[0] for r in out] == [140000, 170000, 200000]
    assert out[0][1] == 130001  # lower_bound clipped to the interval's own lo
    assert sum(r[3] for r in out) == 1  # only ts=150000 matches


# -------------------------------------------- parameterized-SQL point serving

def test_point_serving_sql_text_route_parity_grid(agg_engine):
    """The point route plans the WHOLE statement as one parameterized
    spark.sql text (compiler.serving_sql). Every predicate construct the
    plain class supports must return EXACTLY what the Column pipeline
    returns — clause-by-clause parity with compile_expression — and the
    plan must actually scan the serving temp view (no silent fallback).
    An unordered variant is also read from the shard files by
    collect_select (compiler.arrow_expression), with no Spark planning:
    with LIMIT k it returns every match when k covers them, else k of
    them."""
    from nsdb_spark.sql.parser import parse

    grid = [
        "select * from aggregationLongMetric order by timestamp limit 3",
        "select name, age from aggregationLongMetric where name = 'John' "
        "order by timestamp desc limit 100",
        "select * from aggregationLongMetric where age > 15 "
        "order by timestamp limit 100",
        "select * from aggregationLongMetric where value >= 2 and value <= 4 "
        "order by timestamp limit 100",
        "select * from aggregationLongMetric where age in (15, 16) "
        "order by timestamp limit 100",
        "select * from aggregationLongMetric where name like 'Frank$' "
        "order by timestamp limit 100",
        "select * from aggregationLongMetric where age is null limit 100",
        "select * from aggregationLongMetric where age is not null "
        "order by timestamp limit 100",
        "select * from aggregationLongMetric where not age = 15 "
        "order by timestamp limit 100",
        "select * from aggregationLongMetric where name = 'John' or "
        "(age >= 16 and height < 32.0) order by timestamp limit 100",
        "select * from aggregationLongMetric where timestamp > 3 and "
        "timestamp < 9 order by timestamp limit 100",
        "select * from aggregationLongMetric where not "
        "(name = 'Bill' or age is null) order by timestamp limit 100",
        # unordered: also served from the shard files
        "select * from aggregationLongMetric limit 4",
        "select name, age from aggregationLongMetric where name = 'John' limit 100",
        "select * from aggregationLongMetric where age > 15 limit 2",
        "select * from aggregationLongMetric where value >= 2 and value <= 4 limit 100",
        "select * from aggregationLongMetric where age in (15, 16) limit 3",
        "select * from aggregationLongMetric where name like '$ran$' limit 100",
        "select * from aggregationLongMetric where age is not null and "
        "height < 31.0 limit 100",
        "select * from aggregationLongMetric where not age = 15 limit 100",
        "select * from aggregationLongMetric where name = 'John' or "
        "(age >= 16 and height < 32.0) limit 100",
        "select * from aggregationLongMetric where timestamp > 3 and "
        "timestamp <= 9 limit 100",
        "select * from aggregationLongMetric where not "
        "(name = 'Bill' or age is null) limit 3",
    ]
    for q in grid:
        stmt = parse(q, db="default", namespace="default")
        df, _, _ = agg_engine._plan_select(stmt)
        assert df.sparkSession is agg_engine._serving_session(), q
        # the SQL-text route scans the registered temp view; a fallback
        # to the Column pipeline would scan parquet relations directly
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "nsdb_pt_" in analyzed, q
        got = [tuple(r) for r in df.collect()]
        # reference: the codegen-session Column pipeline on the same data
        if "order by" in q:
            assert got == column_route_rows(agg_engine, stmt), q
            continue
        every = column_route_rows(agg_engine, dataclasses.replace(stmt, limit=None))
        k = stmt.limit.value
        assert_limit_rows(got, every, k, q)
        assert_limit_rows(file_served_rows(agg_engine, stmt), every, k, q)


@pytest.fixture()
def small_row_groups(monkeypatch):
    """Shard files written in row groups of 2 rows, so the small fixtures
    span many row groups on the file route and on the Spark route."""
    monkeypatch.setattr(NsdbEngine, "_SHARD_ROW_GROUP_ROWS", 2)


def _assert_many_row_groups(engine, metric: str) -> None:
    groups = [_row_groups(p) for p in _shard_file_paths(engine, metric)]
    assert max(len(g) for g in groups) > 1
    assert max(rows for g in groups for rows, _, _ in g) <= 2


def test_point_serving_sql_text_route_parity_grid_over_small_row_groups(
    small_row_groups, engine
):
    """The point-read parity grid over shard files of 2-row groups."""
    load(engine, "aggregationLongMetric", AGG_LONG_METRIC)
    _assert_many_row_groups(engine, "aggregationLongMetric")
    test_point_serving_sql_text_route_parity_grid(engine)


def test_point_read_from_files_reads_a_later_field_as_null(engine):
    """A shard file written before a field existed has no column for it:
    the shard-file read returns NULL there, as the Column route does."""
    from nsdb_spark.sql.parser import parse

    engine.insert_bits("default", "default", "evo", [
        Bit(1, 1, {}, {"a": "x"}), Bit(2, 2, {}, {"a": "y"}),
    ])
    engine.insert_bits("default", "default", "evo", [Bit(3, 3, {"d": 7}, {"a": "z"})])
    stmt = parse("select * from evo limit 10", db="default", namespace="default")
    got = file_served_rows(engine, stmt)
    assert sorted(got) == [(1, 1, "x", None), (2, 2, "y", None), (3, 3, "z", 7)]
    every = column_route_rows(engine, dataclasses.replace(stmt, limit=None))
    assert_limit_rows(got, every, 10, "evo")


def test_point_read_from_files_skips_a_file_removed_after_listing(engine, monkeypatch):
    """A shard file removed between the listing and the read (a swap or
    an eviction in between) is skipped, not an error, as
    ignoreMissingFiles skips it on the Spark route."""
    import os

    import pyarrow.parquet as pq

    from nsdb_spark.sql.parser import parse

    engine.insert_bits("default", "default", "gone", [Bit(1, 1, {}, {}), Bit(2, 2, {}, {})])
    engine.insert_bits("default", "default", "gone", [Bit(3, 3, {}, {})])
    listed, removed = engine.warehouse.shard_files, []

    def list_then_remove(*args):
        files = listed(*args)
        assert len(files) == 2
        removed.extend(pq.read_table(files[0])["timestamp"].to_pylist())
        os.remove(files[0])
        return files

    monkeypatch.setattr(engine.warehouse, "shard_files", list_then_remove)
    got = engine.collect_select(
        parse("select * from gone limit 10", db="default", namespace="default")
    )
    assert sorted(r.timestamp for r in got) == sorted({1, 2, 3} - set(removed))


def test_point_read_from_files_sees_an_insert_between_two_reads(engine):
    """Two identical unordered point reads with an insert between them:
    the second sees the inserted row (the write moves the cache token)."""
    from nsdb_spark.sql.parser import parse

    engine.insert_bits("default", "default", "ins", [Bit(t, t, {}, {}) for t in (1, 2, 3)])
    stmt = parse(
        "select * from ins where timestamp >= 0 limit 50", db="default", namespace="default"
    )
    assert sorted(r.timestamp for r in engine.collect_select(stmt)) == [1, 2, 3]
    engine.insert_bits("default", "default", "ins", [Bit(4, 4, {}, {})])
    assert sorted(r.timestamp for r in engine.collect_select(stmt)) == [1, 2, 3, 4]


def test_serving_aggregate_route_parity_grid(engine):
    """Shard-pruned aggregates (tag group-by, global, temporal) plan with
    the Column compiler on the interpreted one-partition serving session.
    Each must return EXACTLY the ordered rows of the analytics route
    (forced past the gate), including the LIMIT quirks (global count
    clamp, temporal takeRight both ways), a multi-segment NOT-range axis,
    the zero-skipping temporal MIN, first/last and count distinct."""
    from nsdb_spark.sql.parser import parse

    load(engine, "aggregationLongMetric", AGG_LONG_METRIC)
    load(engine, "temporalLongMetric", TEMPORAL_LONG_METRIC, shard_interval_ms=100000)
    load(engine, "zeroMinMetric", [
        Bit(5000, 0, {}, {"name": "a"}),
        Bit(15000, 7, {}, {"name": "b"}),
        Bit(25000, 3, {}, {"name": "c"}),
        Bit(35000, 9, {}, {"name": "d"}),
    ], shard_interval_ms=20000)
    ctx = TimeContext(200000)
    grid = [
        # tag group-by, ORDER BY value (no ties) and LIMIT
        "select max(value) from aggregationLongMetric group by name "
        "order by value desc limit 2",
        "select min(value) from aggregationLongMetric where age > 14 "
        "group by name order by value limit 3",
        "select sum(value) from aggregationLongMetric group by name order by name",
        # global count clamped to LIMIT
        "select count(*) from aggregationLongMetric limit 4",
        "select count(*) from aggregationLongMetric where age >= 15 limit 100",
        # temporal takeRight LIMIT, ascending and descending
        "select count(*) from temporalLongMetric group by interval 30s "
        "order by timestamp limit 3",
        "select sum(value) from temporalLongMetric group by interval 30s "
        "order by timestamp desc limit 3",
        # NOT-range: two disjoint axes
        "select count(*) from temporalLongMetric where not timestamp in "
        "(60000, 130000) group by interval 30s",
        # zero-skipping MIN across the two 20 s shards of one 40 s bucket
        "select min(value) from zeroMinMetric group by interval 40s",
        # first/last
        "select first(value) from aggregationLongMetric group by name order by name",
        "select last(value) from aggregationLongMetric where age > 14 "
        "group by name order by name",
        # count distinct
        "select count(distinct value) from aggregationLongMetric group by name "
        "order by name",
        "select count(distinct name) from temporalLongMetric group by interval 60s",
    ]
    for q in grid:
        stmt = parse(q, db="default", namespace="default")
        df, _, routed = engine._plan_select(stmt, ctx)
        assert not routed, q
        assert df.sparkSession is engine._serving_session(), q
        got = [tuple(r) for r in df.collect()]
        engine.invalidate_plan_caches()
        orig = engine._point_route
        engine._point_route = lambda *a, **k: False
        try:
            dfr, _, _ = engine._plan_select(stmt, ctx)
            assert dfr.sparkSession is engine.spark, q
            want = [tuple(r) for r in dfr.collect()]
        finally:
            engine._point_route = orig
            engine.invalidate_plan_caches()
        # every entry's row order is defined (ORDER BY, the time axis, or
        # one global row), so rows compare in order
        assert got and got == want, q
    # the zero-skipping quirk survives the route change
    stmt = parse(
        "select min(value) from zeroMinMetric group by interval 40s",
        db="default", namespace="default",
    )
    assert engine.collect_select(stmt, ctx)[0][3] == 3



#: every statement touches at most 4 shards, so collect_select reads it
#: from the files
_AGG_FILE_GRID = [
    # tag group-by: every kind, NULL and DECIMAL group keys (-0.0 is 0.0,
    # every NaN one group), count(tag) skipping NULLs, a tag older files
    # lack, ORDER BY value or group field, LIMIT with and without order
    "select count(*) from aggm group by name",
    "select count(late) from aggm group by name",
    "select count(distinct value) from aggm group by name",
    "select count(distinct h) from aggm group by name",
    "select count(distinct late) from aggl group by name",
    "select sum(value) from aggm group by h",
    "select min(value) from aggm group by name order by name",
    "select max(value) from aggm group by name order by value desc",
    "select max(value) from aggm group by h order by h",
    "select avg(value) from aggm where timestamp >= 5000 group by name "
    "order by value limit 2",
    "select first(value) from aggm group by name order by name",
    "select last(value) from aggm where not name = 'b' group by name",
    "select first(value) from aggl where timestamp > 9000 group by late",
    "select sum(value) from aggm group by name limit 2",
    "select max(value) from aggl group by name order by name desc limit 2",
    "select sum(value) from aggl group by late order by value",
    "select avg(value) from aggl group by name",
    "select min(value) from aggl where value < 100 group by late order by value desc",
    # global: every kind at once, NaN matching `>` (Spark orders NaN above
    # every number), count clamped to LIMIT, empty input
    "select count(*), sum(value), min(value), max(value), avg(value), "
    "count(distinct value) from aggm",
    "select count(*), sum(value), min(value), max(value), avg(value), "
    "count(distinct value) from aggl",
    "select count(late), count(distinct name), sum(value) from aggm "
    "where timestamp > 12000 limit 3",
    "select max(value), min(value), count(*) from aggm where value > 2",
    "select count(*), sum(value), min(value), max(value), avg(value), "
    "count(distinct name) from aggm where name = 'zz'",
    "select count(*), sum(value), min(value), max(value), avg(value), "
    "count(distinct name) from aggl where timestamp < 0",
    "select sum(value) from aggl where timestamp >= 10000 limit 1",
    # temporal: empty buckets 0, takeRight LIMIT both ways, disjoint
    # NOT-complement axes, the zero-skipping min, every kind
    "select count(*) from aggm group by interval 7s",
    "select sum(value) from aggm group by interval 5s order by timestamp desc limit 3",
    "select sum(value) from aggl group by interval 4s order by timestamp limit 3",
    "select max(value) from aggm where not timestamp in (8000, 21000) "
    "group by interval 4s",
    "select count(*) from aggl where timestamp < 3000 or timestamp > 26000 "
    "group by interval 2s",
    "select min(value) from aggl group by interval 20s",
    "select min(value) from aggm group by interval 20s",
    "select max(value) from aggl group by interval 20s",
    "select avg(value) from aggl where timestamp > 3000 group by interval 6s limit 4",
    "select count(distinct name) from aggm group by interval 10s",
    "select count(distinct value) from aggm group by interval 9s",
    "select sum(value) from aggl where timestamp > 29000 group by interval 1s",
    "select count(*) from aggm where timestamp > 40000 group by interval 1s",
]


def test_aggregate_file_route_parity_grid(engine):
    """collect_select reads a shard-pruned tag group-by, global or
    temporal aggregate from the shard files with pyarrow, with no Spark
    planning, and returns what the Column pipeline returns on the
    analytics session: the same rows, cell types and values (floats to
    rel 1e-9, NaN equal to NaN; see assert_aggregate_file_route for the
    group-by rows whose order Spark leaves open)."""
    import math

    from nsdb_spark.sql.parser import parse

    load_aggregate_parity(engine)
    for q in _AGG_FILE_GRID:
        assert_aggregate_file_route(engine, q)
    # a -0.0 grouping key reads as 0.0, as Spark normalizes it (same_cell
    # does not see the sign of a zero)
    stmt = parse("select count(*) from aggm group by h", db="default", namespace="default")
    zeros = [r[0] for r in file_served_rows(engine, stmt) if r[0] == 0]
    assert len(zeros) == 1 and math.copysign(1.0, zeros[0]) == 1.0


def test_aggregate_file_route_parity_grid_over_small_row_groups(small_row_groups, engine):
    """The aggregate file-route parity grid over shard files of 2-row
    groups."""
    test_aggregate_file_route_parity_grid(engine)
    for metric in ("aggm", "aggl"):
        _assert_many_row_groups(engine, metric)


def test_aggregate_file_route_bigint_sum_overflow_raises(engine):
    """A BIGINT sum past the 64-bit range raises, as Spark's ANSI sum does
    on the Spark route; the file route never wraps it."""
    from pyspark.errors import ArithmeticException

    from nsdb_spark.sql.parser import parse

    big = (1 << 62) + 1
    engine.insert_bits("default", "default", "ovf", [Bit(t, big, {}, {"g": "x"}) for t in (1, 2)])
    engine.insert_bits("default", "default", "ovf", [Bit(3, big, {}, {"g": "x"})])
    for q in ("select sum(value) from ovf", "select sum(value) from ovf group by g",
              "select sum(value) from ovf group by interval 1h"):
        stmt = parse(q, db="default", namespace="default")
        with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
            file_served_rows(engine, stmt)
        with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
            column_route_rows(engine, stmt)
    # the exact sum of values whose 64-bit running sum wraps midway
    engine.insert_bits("default", "default", "ovf", [Bit(t, -big, {}, {"g": "x"}) for t in (4, 5)])
    stmt = parse("select sum(value) from ovf", db="default", namespace="default")
    assert file_served_rows(engine, stmt) == [(big,)]


def test_aggregate_read_from_files_skips_a_file_removed_after_listing(engine, monkeypatch):
    """An aggregate's shard file removed between the listing and the read
    is skipped, not an error, as ignoreMissingFiles skips it on the Spark
    route."""
    import os

    import pyarrow.parquet as pq

    from nsdb_spark.sql.parser import parse

    engine.insert_bits("default", "default", "gone", [Bit(1, 1, {}, {}), Bit(2, 2, {}, {})])
    engine.insert_bits("default", "default", "gone", [Bit(3, 3, {}, {})])
    listed, removed = engine.warehouse.shard_files, []

    def list_then_remove(*args):
        files = listed(*args)
        assert len(files) == 2
        removed.extend(pq.read_table(files[0])["value"].to_pylist())
        os.remove(files[0])
        return files

    monkeypatch.setattr(engine.warehouse, "shard_files", list_then_remove)
    got = engine.collect_select(
        parse("select count(*), sum(value) from gone", db="default", namespace="default")
    )
    assert [tuple(r) for r in got] == [(3 - len(removed), 6 - sum(removed))]


def test_aggregate_read_from_files_sees_an_insert_between_two_reads(engine):
    """Two identical aggregate reads with an insert between them: the
    second sees the inserted row (the write moves the cache token)."""
    from nsdb_spark.sql.parser import parse

    engine.insert_bits("default", "default", "ins", [Bit(t, t, {}, {"g": "x"}) for t in (1, 2, 3)])
    for q, before, after in (
        ("select sum(value) from ins group by g", [("x", 6)], [("x", 10)]),
        ("select count(*) from ins where timestamp >= 0", [(3,)], [(4,)]),
    ):
        stmt = parse(q, db="default", namespace="default")
        assert [tuple(r) for r in engine.collect_select(stmt)] == before
        engine.insert_bits("default", "default", "ins", [Bit(4, 4, {}, {"g": "x"})])
        assert [tuple(r) for r in engine.collect_select(stmt)] == after
        engine.execute("delete from ins where timestamp = 4")


def test_explain_select_reports_the_route_collect_select_takes(engine):
    """explain_select's route names the route collect_select takes,
    through the same gate: a shard-pruned aggregate is read from the
    files, an ordered point read plans on the serving session, a DISTINCT
    read on the analytics session, and a group-by with a registered
    rollup is served from it. The files case runs no Spark job."""
    from nsdb_spark.sql.parser import parse

    engine.warehouse.init_metric("default", "default", "rt", 10000)
    engine.insert_bits(
        "default", "default", "rt",
        [Bit(t, t, {}, {"g": "x"}) for t in range(0, 100000, 5000)],
    )
    engine.materialize_group_rollup("default", "default", "rt", "g")
    cases = {
        "select count(*) from rt where timestamp >= 40000 and timestamp < 70000 "
        "group by g": "files",
        "select * from rt where timestamp >= 40000 and timestamp < 70000 "
        "order by timestamp limit 3": "serving",
        "select distinct g from rt limit 3": "analytics",
        "select sum(value) from rt group by g": "rollup",
    }
    for q, route in cases.items():
        assert engine.explain_select(q)["route"] == route, q
    q = next(iter(cases))
    engine.invalidate_plan_caches()
    rows = file_served_rows(engine, parse(q, db="default", namespace="default"))
    assert rows == [("x", 6)]


def test_point_serving_view_reregisters_on_mutation(agg_engine):
    """The serving temp view is token-guarded global state: INSERT and
    DELETE must re-register it before the next point serve, and an
    already-planned statement keeps its analysis-time binding. The read is
    ordered: the SQL-text route serves ordered plain SELECTs (an unordered
    one is read from the shard files)."""
    from nsdb_spark.sql.parser import parse

    stmt = parse(
        "select * from aggregationLongMetric where timestamp = 77 "
        "order by timestamp limit 5",
        db="default", namespace="default",
    )
    # the serving frame entry's token is the token of the frame the
    # view was registered with
    key = ("default", "default", "aggregationLongMetric", True)
    assert agg_engine.collect_select(stmt) == []
    tok0 = agg_engine._frames._entries[key][0]
    agg_engine.insert_bits(
        "default", "default", "aggregationLongMetric",
        [Bit(77, 9, {"surname": "Doe"}, {"name": "Zed", "age": 1, "height": 2.0})],
    )
    got = agg_engine.collect_select(stmt)
    assert [r["timestamp"] for r in got] == [77]
    tok1 = agg_engine._frames._entries[key][0]
    assert tok1 != tok0
    agg_engine.execute("delete from aggregationLongMetric where timestamp = 77")
    assert agg_engine.collect_select(stmt) == []


def test_point_serving_view_put_from_before_invalidate_loses(agg_engine):
    """invalidate_plan_caches restarts the mutation counters. A serving
    frame put that was in flight across it (token computed before the
    clear, at a counter above anything later tokens will reach) must
    lose to the next read's put, so the view it published is replaced
    and a row inserted afterwards is served. The read is ordered, so it
    plans over the serving view."""
    import functools

    from nsdb_spark.engine import _serving_view
    from nsdb_spark.sql.parser import parse

    metric = "aggregationLongMetric"
    stmt = parse(
        f"select * from {metric} where timestamp = 77 order by timestamp limit 5",
        db="default", namespace="default",
    )
    key = ("default", "default", metric, True)
    assert agg_engine.collect_select(stmt) == []
    for _ in range(5):
        agg_engine._bump_metric_version("default", "default", metric)
    stale_df = agg_engine._read_metric_frame("default", "default", metric, serving=True)
    stale_tok = agg_engine._frames._entries[key][0]
    agg_engine.invalidate_plan_caches()
    # the in-flight put lands after the clear
    agg_engine._frames.put(
        key, stale_tok, stale_df,
        functools.partial(
            stale_df.createOrReplaceTempView, _serving_view("default", "default", metric)
        ),
    )
    agg_engine.insert_bits(
        "default", "default", metric,
        [Bit(77, 9, {"surname": "Doe"}, {"name": "Zed", "age": 1, "height": 2.0})],
    )
    assert [r["timestamp"] for r in agg_engine.collect_select(stmt)] == [77]
    assert agg_engine._frames._entries[key][0] != stale_tok


def test_point_serving_escapes_exotic_field_names(engine):
    """Field names aren't charset-restricted at ingest (only RESERVED
    names are rejected), so the SQL-text route's identifier quoting is
    load-bearing: a dimension named with spaces, an embedded backtick,
    or a SQL keyword must round-trip through `select *` on the point
    route exactly as through the Column pipeline."""
    engine.insert_bits(
        "default", "default", "weird",
        [Bit(t, t, {"a b": f"s{t}", "se`lect": f"q{t}", "order": t * 2}, {})
         for t in range(5)],
    )
    from nsdb_spark.sql.parser import parse

    stmt = parse(
        "select * from weird where timestamp >= 1 order by timestamp limit 3",
        db="default", namespace="default",
    )
    df, _, _ = engine._plan_select(stmt)
    assert df.sparkSession is engine._serving_session()
    assert "nsdb_pt_" in df._jdf.queryExecution().analyzed().toString()
    rows = [r.asDict() for r in df.collect()]
    assert [r["timestamp"] for r in rows] == [1, 2, 3]
    assert rows[0]["a b"] == "s1" and rows[0]["se`lect"] == "q1"
    assert rows[0]["order"] == 2
