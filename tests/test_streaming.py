"""Streaming tests — subscription behaviour modelled on PublisherActorSpec,
plus a real Structured Streaming ingestion round-trip."""
import time

import pytest
from pyspark.sql import functions as F

from nsdb_spark.compiler import TimeContext
from nsdb_spark.model import Bit
from nsdb_spark.sql import ast
from nsdb_spark.streaming import SubscriptionManager, start_parquet_ingestion

from fixtures import LONG_METRIC, load


@pytest.fixture()
def manager(engine):
    # small shard: a temporal subscription's historical axis is the
    # SHARD-ALIGNED extent, so the default 30-day shard makes every
    # `group by interval 1 s` subscribe compute, sort, and collect a
    # 2.59M-bucket payload (~30 s per subscribe; measured round 9 —
    # half this file's wall time). A 60 s shard keeps every asserted
    # bucket and caps the axis at 60 rows. Engine behaviour untouched.
    load(engine, "people", LONG_METRIC, shard_interval_ms=60_000)
    return SubscriptionManager(engine)


class Collector:
    def __init__(self):
        self.pushes = []

    def __call__(self, rows):
        self.pushes.append(rows)


def test_subscribe_plain_gets_historical_then_live(manager, engine):
    cb = Collector()
    manager.subscribe("select * from people where name = Frank", cb)
    assert len(cb.pushes) == 1
    assert [r["timestamp"] for r in cb.pushes[0]] == [8]

    # live insert matching the predicate → immediate push, no re-query
    manager.publish("default", "default", "people",
                    [{"timestamp": 20, "value": 9, "name": "Frank", "surname": "Doe"}])
    assert len(cb.pushes) == 2
    assert cb.pushes[1][0]["timestamp"] == 20

    # non-matching record → no push
    manager.publish("default", "default", "people",
                    [{"timestamp": 21, "value": 9, "name": "Bill", "surname": "Doe"}])
    assert len(cb.pushes) == 2


def test_subscribe_standard_agg_pushes_on_tick(manager, engine):
    cb = Collector()
    engine.now_fn = lambda: 100
    manager.subscribe("select sum(value) from people group by name", cb)
    assert len(cb.pushes) == 1  # historical
    manager.tick(5100)
    assert len(cb.pushes) == 2
    as_map = {r["name"]: r["sum_value"] for r in cb.pushes[1]}
    assert as_map["John"] == 3


def test_subscribe_temporal_buckets_roll_and_amend(manager, engine):
    cb = Collector()
    engine.now_fn = lambda: 1000
    manager.subscribe(
        "select count(*) from people group by interval 1 s since 10 s",
        cb,
        time_context=TimeContext(1000),
    )
    assert len(cb.pushes) == 1  # historical

    # records in the current bucket (1000, 2000]
    manager.publish("default", "default", "people",
                    [{"timestamp": 1500, "value": 1, "name": "X", "surname": "Y"},
                     {"timestamp": 1700, "value": 2, "name": "X", "surname": "Y"}])
    engine.now_fn = lambda: 2100
    manager.tick(2100)  # bucket (1000,2000] closes
    push = cb.pushes[-1][0]
    assert (push["lower_bound"], push["upper_bound"], push["count_value"]) == (1000, 2000, 2)

    # late record within grace lands in the closed bucket → amended re-push
    manager.publish("default", "default", "people",
                    [{"timestamp": 1900, "value": 3, "name": "X", "surname": "Y"}])
    amended = cb.pushes[-1][0]
    assert amended["amended"] and amended["count_value"] == 3

    # record older than grace is dropped
    engine.now_fn = lambda: 20000
    manager.publish("default", "default", "people",
                    [{"timestamp": 1950, "value": 3, "name": "X", "surname": "Y"}])
    assert cb.pushes[-1][0]["count_value"] == 3  # unchanged


def test_scheduler_logs_failed_tick_and_keeps_running(engine, caplog, monkeypatch):
    import logging

    mgr = SubscriptionManager(engine, agg_push_period_ms=50)
    calls = []

    def tick():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("tick boom")

    monkeypatch.setattr(mgr, "tick", tick)
    caplog.set_level(logging.ERROR, logger="nsdb_spark.streaming.subscribe")
    mgr.start_scheduler()
    try:
        deadline = time.time() + 5
        while len(calls) < 2 and time.time() < deadline:
            time.sleep(0.02)
    finally:
        mgr.stop_scheduler()
    assert len(calls) >= 2  # the failed tick did not end the loop
    failed = [
        r for r in caplog.records
        if r.name == "nsdb_spark.streaming.subscribe" and r.exc_info
    ]
    assert failed and "tick boom" in str(failed[0].exc_info[1])


def test_publish_predicate_matches_compiler_semantics(manager, engine):
    """A plain subscription's WHERE keeps what the compiled predicate
    keeps: an absent field is NULL, which only IS NULL matches."""
    engine.insert_bits("default", "default", "m", [Bit(1, 3, {}, {"name": "X", "age": 1})])
    cb = Collector()
    manager.subscribe(
        "select * from m where value >= 2 and (name like Fra$ or age is null)", cb
    )
    manager.publish("default", "default", "m", [
        {"timestamp": 10, "value": 3, "name": "Frank", "age": 1},
        {"timestamp": 11, "value": 3, "name": "Bill"},  # age absent
        {"timestamp": 12, "value": 1, "name": "Frank", "age": 1},
        {"timestamp": 13, "value": 3, "name": "Bill", "age": 1},
    ])
    assert [[r["timestamp"] for r in p] for p in cb.pushes[1:]] == [[10, 11]]


def test_publish_relative_time_predicate(manager, engine):
    """`now - 1 s` resolves against the publish time."""
    engine.now_fn = lambda: 10_000
    cb = Collector()
    manager.subscribe("select * from people where timestamp >= now - 1 s", cb)
    manager.publish("default", "default", "people", [
        {"timestamp": 9500, "value": 1, "name": "X", "surname": "Y"},
        {"timestamp": 8000, "value": 1, "name": "X", "surname": "Y"},
    ])
    assert [[r["timestamp"] for r in p] for p in cb.pushes[1:]] == [[9500]]


def _same(live, hist) -> bool:
    """Equal values of one Python type, NaN equal to NaN."""
    if type(live) is not type(hist):
        return False
    return live == hist or live != live and hist != hist


def test_live_predicates_match_historical_over_nan_and_null(manager, engine):
    """A live push keeps the rows the historical read of the same
    statement returns: Spark orders NaN above every number, and a NULL
    tag fails every predicate but IS NULL."""
    nan = float("nan")
    rows = [
        (10, nan, "Frank"), (11, 3.0, "Frank"), (12, 7.0, None),
        (13, nan, None), (14, 5.0, "Bill"),
    ]
    engine.insert_bits("default", "default", "pn", [
        Bit(t, v, {}, {} if n is None else {"name": n}) for t, v, n in rows
    ])
    published = [
        {"timestamp": t, "value": v, **({} if n is None else {"name": n})}
        for t, v, n in rows
    ]
    for where in ("value > 5", "value >= 5", "not value < 5",
                  "name like Fr$", "name is null"):
        cb = Collector()
        uuid = manager.subscribe(f"select * from pn where {where}", cb)
        manager.publish("default", "default", "pn", published)
        manager.unsubscribe(uuid)
        hist = sorted(r["timestamp"] for r in cb.pushes[0])
        live = sorted(r["timestamp"] for p in cb.pushes[1:] for r in p)
        assert hist and live == hist, where


@pytest.mark.parametrize("value_type", ["DECIMAL", "BIGINT"])
def test_live_temporal_buckets_match_historical(manager, engine, value_type):
    """For every temporal aggregation, a closed live bucket carries the
    value (and the Python type) of the historical row for the same
    bucket: NaN in either arrival order, ordinary values and an empty
    bucket (0 or 0.0, as the historical axis emits it)."""
    nan = float("nan")
    if value_type == "DECIMAL":
        # (1000, 2000]: NaN then 3.0; (2000, 3000]: 3.0 then NaN;
        # (3000, 4000] empty; (4000, 5000]: ordinary values
        batches = [[(1500, nan)], [(1600, 3.0)], [(2500, 3.0)], [(2600, nan)],
                   [(4200, 1.5), (4300, -2.0)], [(4400, 4.0)]]
    else:
        batches = [[(1500, 3)], [(1600, -4)], [(2500, 1 << 40)], [(2600, 7)],
                   [(4200, 5), (4300, 5)], [(4400, -1)]]
    metric = f"tb_{value_type.lower()}"
    engine.warehouse.init_metric("default", "default", metric, 60_000)
    engine.insert_bits("default", "default", metric, [
        Bit(t, v, {}, {"name": "n"}) for b in batches for t, v in b
    ])
    engine.now_fn = lambda: 1000
    wrong = []
    for kind in sorted(ast.TEMPORAL_AGGREGATIONS):
        agg = "count(distinct value)" if kind == "count_distinct" else f"{kind}(value)"
        col = f"{kind}_value"
        cb = Collector()
        uuid = manager.subscribe(
            f"select {agg} from {metric} group by interval 1 s", cb,
            time_context=TimeContext(1000),
        )
        hist = {r["upper_bound"]: r[col] for r in cb.pushes[0]}
        for b in batches:
            manager.publish("default", "default", metric, [
                {"timestamp": t, "value": v, "name": "n"} for t, v in b
            ])
        manager.tick(5000)
        manager.unsubscribe(uuid)
        live = {r["upper_bound"]: r[col] for p in cb.pushes[1:] for r in p}
        assert sorted(live) == [2000, 3000, 4000, 5000]
        wrong += [(kind, ub, v, hist[ub]) for ub, v in live.items() if not _same(v, hist[ub])]
    assert wrong == []


def test_temporal_bucket_holds_one_state(manager, engine):
    """An open bucket holds one aggregate state however many rows reach
    it, not the rows' values."""
    cb = Collector()
    engine.now_fn = lambda: 1000
    quid = manager.subscribe(
        "select count(*) from people group by interval 1 s", cb,
        time_context=TimeContext(1000),
    )
    for i in range(1000):
        manager.publish("default", "default", "people",
                        [{"timestamp": 1001 + i % 999, "value": i, "name": "X", "surname": "Y"}])
    assert manager.subs[quid].buckets == {2000: [1000]}
    manager.tick(2100)
    assert cb.pushes[-1][0]["count_value"] == 1000


def test_structured_streaming_ingestion(engine, spark, tmp_path):
    """readStream → foreachBatch append → rows visible to batch queries."""
    engine.insert_bits("default", "default", "s", [Bit(1, 1, {}, {"name": "seed"})])
    schema = engine.warehouse.get_schema("default", "default", "s")

    src = tmp_path / "incoming"
    src.mkdir()
    seed_df = spark.createDataFrame(
        [(100, 5, "live"), (2_592_000_000 + 7, 6, "live2")],
        "timestamp long, value long, name string",
    )
    seed_df.coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("timestamp long, value long, name string").parquet(str(src))
    q = start_parquet_ingestion(
        engine, "default", "default", "s", stream,
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(60)

    out = engine.execute("select * from s order by timestamp")
    rows = [(r["timestamp"], r["value"], r["name"]) for r in out.collect()]
    assert rows == [(1, 1, "seed"), (100, 5, "live"), (2_592_000_000 + 7, 6, "live2")]
    # second shard was created by the ingest (natural-time partitioning)
    assert engine.warehouse.locations("default", "default", "s") == [0, 2_592_000_000]


def test_publish_tap_filters_on_executors(manager, engine, spark):
    """The ingest tap must NOT collect a batch driver-side unless a
    subscription needs the rows: no subs → no predicate; conditioned
    plain sub → a Column that keeps only matches; unconditioned plain
    sub → everything."""
    # no subscriptions on the metric → tap collects nothing
    assert manager.batch_predicate("default", "default", "people", ["value"]) is None

    cb = Collector()
    manager.subscribe("select * from people where value > 100", cb)
    pred = manager.batch_predicate(
        "default", "default", "people", ["timestamp", "value", "name", "surname"]
    )
    assert pred is not None and pred is not True
    big = spark.createDataFrame(
        [(i, i % 50, "x", "y") for i in range(5000)],
        "timestamp long, value long, name string, surname string",
    )
    # high-volume non-matching batch: the executor-side filter keeps 0 rows
    assert big.filter(pred).count() == 0
    matching = spark.createDataFrame(
        [(1, 500, "x", "y")], "timestamp long, value long, name string, surname string"
    )
    assert matching.filter(pred).count() == 1

    # standard-agg subscriptions re-execute on tick(): they alone never
    # force a tap collect
    mgr2 = SubscriptionManager(engine)
    mgr2.subscribe("select sum(value) from people", Collector())
    assert mgr2.batch_predicate("default", "default", "people", ["value"]) is None

    # unconditioned plain sub needs every row
    manager.subscribe("select * from people", Collector())
    assert manager.batch_predicate("default", "default", "people", ["value"]) is True

    # predicate referencing a field the batch lacks → fall back to all
    mgr3 = SubscriptionManager(engine)
    mgr3.subscribe("select * from people where name = Frank", Collector())
    assert mgr3.batch_predicate("default", "default", "people", ["timestamp", "value"]) is True

    # now-relative predicate → fall back to all (the prefilter's `now`
    # and publish-time `now` differ; a future-window filter could
    # wrongly drop matching rows)
    mgr4 = SubscriptionManager(engine)
    mgr4.subscribe("select * from people where timestamp > now - 1 h", Collector())
    assert mgr4.batch_predicate(
        "default", "default", "people", ["timestamp", "value"]
    ) is True


def test_publish_tap_end_to_end_filtered_stream(engine, spark, tmp_path):
    """Streaming ingest with a conditioned subscription: matching rows are
    pushed, non-matching high-volume data never reaches the callback (and
    is filtered before the driver)."""
    engine.insert_bits("default", "default", "ff", [Bit(1, 1, {}, {"name": "seed"})])
    sub = SubscriptionManager(engine)
    cb = Collector()
    sub.subscribe("select * from ff where value > 1000", cb)
    assert len(cb.pushes) == 1  # historical (empty)

    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [(100 + i, i % 100, "bulk") for i in range(2000)] + [(9999, 5000, "hit")],
        "timestamp long, value long, name string",
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema("timestamp long, value long, name string").parquet(str(src))
    q = start_parquet_ingestion(
        engine, "default", "default", "ff", stream,
        checkpoint_dir=str(tmp_path / "ck"), available_now=True,
        subscription_manager=sub,
    )
    q.awaitTermination(60)
    live = [r for push in cb.pushes[1:] for r in push]
    assert [r["value"] for r in live] == [5000]
    # all 2001 rows still landed in the warehouse
    assert engine.execute("select count(*) from ff").collect()[0][0] == 2002


def test_streaming_ingest_exactly_once_across_restarts(engine, spark, tmp_path):
    """The checkpoint dir subsumes NSDb's commit log: restarting the
    ingestion over the same checkpoint processes ONLY new files — no
    duplicates, no losses (exactly-once per batch, as the module
    docstring claims)."""
    engine.insert_bits("default", "default", "eo", [Bit(1, 1)])
    src = tmp_path / "in"
    src.mkdir()
    ck = str(tmp_path / "ck")

    def run_once():
        stream = spark.readStream.schema("timestamp long, value long").parquet(str(src))
        q = start_parquet_ingestion(
            engine, "default", "default", "eo", stream,
            checkpoint_dir=ck, available_now=True,
        )
        q.awaitTermination(60)

    spark.createDataFrame([(100, 10), (200, 20)], "timestamp long, value long") \
        .coalesce(1).write.mode("append").parquet(str(src))
    run_once()
    assert engine.execute("select count(*) from eo").collect()[0][0] == 3

    # restart with NO new data: nothing re-processed
    run_once()
    assert engine.execute("select count(*) from eo").collect()[0][0] == 3

    # restart after new files land: only the delta is appended
    spark.createDataFrame([(300, 30)], "timestamp long, value long") \
        .coalesce(1).write.mode("append").parquet(str(src))
    run_once()
    rows = engine.execute("select * from eo order by timestamp").collect()
    assert [(r["timestamp"], r["value"]) for r in rows] == [
        (1, 1), (100, 10), (200, 20), (300, 30)
    ]


def test_streaming_ingest_maintains_quantile_rollup(engine, spark, tmp_path):
    """A registered quantile-sketch rollup stays fresh under Structured
    Streaming ingest (insert_frame maintenance path): the served median
    shifts to reflect streamed rows without re-materializing."""
    engine.warehouse.init_metric("default", "default", "sq", shard_interval_ms=10_000)
    engine.insert_bits(
        "default", "default", "sq", [Bit(t, v) for t, v in
                                     [(100, 1), (200, 2), (300, 3), (400, 100)]]
    )
    engine.materialize_quantile_rollup("default", "default", "sq", 1000, nbins=64)
    before = engine.percentile("default", "default", "sq", [0.5]).collect()[0]["pvalue"]
    assert before < 10  # median of {1,2,3,100}

    src = tmp_path / "in"
    src.mkdir()
    # stream many high values inside BOTH pinned grids (ts in axis,
    # value within [1, 100]) → median must move up
    spark.createDataFrame(
        [(500 + i, 90) for i in range(20)], "timestamp long, value long"
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema("timestamp long, value long").parquet(str(src))
    q = start_parquet_ingestion(
        engine, "default", "default", "sq", stream,
        checkpoint_dir=str(tmp_path / "ck"), available_now=True,
    )
    q.awaitTermination(60)
    assert [s.kind for s in engine.warehouse.rollups("default", "default", "sq")] == [
        "quantile"
    ]  # still fresh
    after = engine.percentile("default", "default", "sq", [0.5]).collect()[0]["pvalue"]
    assert after > 80  # sketch absorbed the streamed batch


def test_stateful_temporal_amended_repush_across_restart(spark, tmp_path):
    """applyInPandasWithState bucket state: a late event after a restart
    re-pushes the bucket's FULL aggregates from restored state
    (PublisherActor.scala:220-298 amended-push semantics)."""
    from nsdb_spark.streaming.stateful import stream_temporal_agg_stateful

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")

    def run_once():
        stream = spark.readStream.schema("timestamp long, value double").parquet(src)
        agg = stream_temporal_agg_stateful(stream, interval_ms=10000, anchor_ms=0)
        # _run_stream's drained-stop: the state-TTL cleanup batches would
        # otherwise keep the availableNow query alive for the full
        # awaitTermination budget — twice here, once per restart
        return _run_stream(agg, ck)

    spark.createDataFrame(
        [(1000, 5.0), (8000, 7.0), (15000, 100.0)], "timestamp long, value double"
    ).write.mode("append").parquet(src)
    first = run_once()
    assert (10000, 0, 2, 12.0, 5.0, 7.0, 6.0) in first
    assert (20000, 10000, 1, 100.0, 100.0, 100.0, 100.0) in first

    spark.createDataFrame([(2000, 1.0)], "timestamp long, value double").write.mode(
        "append"
    ).parquet(src)
    second = run_once()
    # amended bucket only, full aggregates from restored state
    assert second == [(10000, 0, 3, 13.0, 1.0, 7.0, 13.0 / 3)]


def _run_stream(df_out, ck, mode="update"):
    got = []
    q = (
        df_out.writeStream.outputMode(mode)
        .foreachBatch(lambda df, bid: got.extend(tuple(r) for r in df.collect()))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    # applyInPandasWithState + processing-time timeouts keeps an
    # availableNow query alive with "no new data but cleaning up state"
    # batches until the state TTL (1 h) fires, so a bare
    # awaitTermination(120) burned its full budget per call (measured:
    # the rows arrive in seconds; this was half of test_streaming's wall
    # time). Stop once THREE distinct completed batches consumed zero
    # input rows: the source is drained and any watermark-flush batch
    # (which is itself a zero-input batch, e.g. the session-agg final
    # emit) has already committed — queries without state timeouts
    # terminate on their own before reaching three.
    deadline = time.time() + 120
    zero_batches: set = set()
    while q.isActive and time.time() < deadline:
        p = q.lastProgress
        if p is not None and p["numInputRows"] == 0:
            zero_batches.add(p["batchId"])
            if len(zero_batches) >= 3:
                break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(30)
    return got


def test_stream_session_agg(spark, tmp_path):
    """Session windows over a keyed stream (append mode): sessions split
    at a >gap silence and emit once the watermark passes their end — a
    second run with later data advances the watermark and flushes them."""
    from nsdb_spark.streaming.ingest import stream_session_agg

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")

    def run_once():
        stream = spark.readStream.schema(
            "timestamp long, value double, user string"
        ).parquet(src)
        out = stream_session_agg(stream, gap_ms=5000, watermark_ms=2000, key="user")
        return _run_stream(out, ck, mode="append")

    spark.createDataFrame(
        [(1000, 1.0, "u1"), (3000, 2.0, "u1"), (60000, 4.0, "u1"), (1000, 8.0, "u2")],
        "timestamp long, value double, user string",
    ).write.mode("append").parquet(src)
    rows = run_once()
    # watermark-advance batch: push a far-future event and run again
    spark.createDataFrame(
        [(300000, 0.5, "u3")], "timestamp long, value double, user string"
    ).write.mode("append").parquet(src)
    rows += run_once()
    # (user, start, end, n, sum): u1 splits at the 57 s gap, u2 one session
    assert ("u1", 1000, 8000, 2, 3.0) in rows
    assert ("u1", 60000, 65000, 1, 4.0) in rows
    assert ("u2", 1000, 6000, 1, 8.0) in rows


def test_stream_sliding_agg_overlap(spark, tmp_path):
    from nsdb_spark.streaming.ingest import stream_sliding_agg

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1000, 10.0), (6000, 20.0)], "timestamp long, value double"
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("timestamp long, value double").parquet(src)
    out = stream_sliding_agg(stream, window_ms=10000, slide_ms=5000, watermark_ms=60000)
    rows = {(r[0], r[1]): (r[2], r[3]) for r in _run_stream(out, str(tmp_path / "ck"))}
    # event at 1 s lands in windows (-5,5] and (0,10]; event at 6 s in (0,10] and (5,15]
    assert rows[(0, 10000)] == (2, 15.0)
    assert rows[(-5000, 5000)] == (1, 10.0)
    assert rows[(5000, 15000)] == (1, 20.0)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """First event per key wins; duplicates inside the watermark horizon
    are dropped (including across micro-batches via checkpointed state);
    state for old keys is evicted once the watermark passes."""
    from nsdb_spark.streaming.ingest import stream_dedup

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")

    def run_once():
        stream = spark.readStream.schema(
            "timestamp long, value double, doc_key string"
        ).parquet(src)
        return _run_stream(
            stream_dedup(stream, ["doc_key"], watermark_ms=10000),
            ck,
            mode="append",
        )

    spark.createDataFrame(
        [(1000, 1.0, "a"), (1500, 2.0, "a"), (2000, 3.0, "b")],
        "timestamp long, value double, doc_key string",
    ).write.mode("append").parquet(src)
    first = run_once()
    # exactly one survivor per key (which duplicate wins is processing-
    # order dependent within a batch — both are valid)
    assert sorted(r[2] for r in first) == ["a", "b"]
    assert [r for r in first if r[2] == "a"][0][1] in (1.0, 2.0)

    # second batch: in-horizon duplicate of "a" dropped via restored state,
    # new key "c" emitted
    spark.createDataFrame(
        [(3000, 9.0, "a"), (3500, 4.0, "c")],
        "timestamp long, value double, doc_key string",
    ).write.mode("append").parquet(src)
    second = run_once()
    assert sorted(r[2] for r in second) == ["c"]


def test_stream_enrich_broadcast_join(spark, tmp_path):
    from nsdb_spark.streaming.ingest import stream_enrich

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1000, 1.0, 7), (2000, 2.0, 99)], "timestamp long, value double, user_id long"
    ).write.mode("append").parquet(src)
    dim = spark.createDataFrame([(7, "gold")], "user_id long, tier string")
    stream = spark.readStream.schema("timestamp long, value double, user_id long").parquet(src)
    rows = _run_stream(
        stream_enrich(stream, dim, on="user_id").select("user_id", "timestamp", "tier"),
        str(tmp_path / "ck"),
        mode="append",
    )
    assert (7, 1000, "gold") in rows
    assert (99, 2000, None) in rows  # left join keeps unmatched stream rows


def test_streaming_ingest_maintains_minhash_index(spark, tmp_path):
    """End-to-end incremental near-dup dedup under Structured Streaming:
    each micro-batch appends its signatures to the stored MinHash index
    (history never re-tokenized) and emits pairs involving the batch;
    the union over batches equals a full recompute over everything."""
    from pyspark.sql import functions as F

    from nsdb_spark.operators import dedup

    rows_a = [(i, f"w{i % 4} a b c d e f g h common {i % 3}") for i in range(20)]
    rows_b = [(100 + i, f"w{i % 4} a b c d e f g h common {i % 3}") for i in range(10)]
    src = tmp_path / "docs_src"
    all_docs = spark.createDataFrame(rows_a + rows_b, "doc_id long, text string")

    spark.createDataFrame(rows_a, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    spark.createDataFrame(rows_b, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    dedup.write_minhash_index(
        spark.createDataFrame([], "doc_id long, text string"), "mh_stream_idx"
    )

    emitted = []

    def handle(batch_df, batch_id):
        ids = [r["doc_id"] for r in batch_df.select("doc_id").collect()]
        if not ids:
            return
        dedup.append_minhash_index(batch_df, "mh_stream_idx")
        pairs = dedup.minhash_incremental_pairs(
            batch_df.sparkSession, "mh_stream_idx",
            F.col("doc_id").isin(ids), threshold=0.5,
        )
        emitted.extend(
            (r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs.collect()
        )

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    full = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(all_docs, threshold=0.5).collect()
    }
    # each pair is emitted by the batch of its LATER doc (the earlier one
    # is already indexed) — dedupe in case both endpoints share a batch
    assert set(emitted) == full and len(full) > 0
    spark.sql("DROP TABLE IF EXISTS mh_stream_idx")


def test_streaming_ingest_maintains_distinct_rollup(engine, spark, tmp_path):
    """HLL count-distinct registers stay fresh under Structured Streaming
    ingest: streamed rows with NEW tag values raise the served estimate
    without re-materializing."""
    from nsdb_spark.engine import NsdbEngine

    engine.warehouse.init_metric("default", "default", "sd", shard_interval_ms=10_000)
    engine.insert_bits(
        "default", "default", "sd",
        [Bit(100 * (i + 1), 1, {}, {"tag": f"a{i % 3}"}) for i in range(12)],
    )
    engine.materialize_distinct_rollup("default", "default", "sd", "tag", 1000)
    approx = NsdbEngine(spark, engine.warehouse.root, approx_count_distinct=True)
    sql = "select count(distinct tag) from sd group by interval 10 s"
    before = approx.execute(sql).collect()[0][-1]
    assert before == 3

    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [(2000 + i, 1, f"b{i}") for i in range(5)],
        "timestamp long, value long, tag string",
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(
        "timestamp long, value long, tag string"
    ).parquet(str(src))
    q = start_parquet_ingestion(
        engine, "default", "default", "sd", stream,
        checkpoint_dir=str(tmp_path / "ck"), available_now=True,
    )
    q.awaitTermination(60)
    assert [
        (s.kind, s.field, s.fine_ms)
        for s in engine.warehouse.rollups("default", "default", "sd")
    ] == [("hll", "tag", 1000)]
    after = approx.execute(sql).collect()[0][-1]
    assert after == 8  # 3 old + 5 streamed-new distinct tags (LC-exact range)


def test_stream_stream_join_within_window(spark, tmp_path):
    """Event-time stream-stream join: clicks attach to impressions of the
    same user within the attribution window; late-beyond-watermark and
    out-of-window clicks don't."""
    from nsdb_spark.streaming.ingest import stream_stream_join

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    spark.createDataFrame(
        [(1, 1000, 10), (2, 1000, 20), (3, 50000, 30)],
        "user_id long, its long, imp_id long",
    ).coalesce(1).write.parquet(str(imp_dir))
    spark.createDataFrame(
        [
            (1, 3000, 100),   # in window (1000 + 5000)
            (2, 9000, 200),   # out of window
            (3, 52000, 300),  # in window for imp 30
            (9, 3000, 900),   # no matching impression key
        ],
        "user_id long, cts long, click_id long",
    ).coalesce(1).write.parquet(str(clk_dir))

    imps = spark.readStream.schema("user_id long, its long, imp_id long").parquet(str(imp_dir))
    clks = spark.readStream.schema("user_id long, cts long, click_id long").parquet(str(clk_dir))
    joined = stream_stream_join(
        imps, clks, on="user_id", ts_cols=("its", "cts"),
        window_ms=5000, watermark_ms=10000,
    )
    got = []
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(
            (r["imp_id"], r["click_id"]) for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == [(10, 100), (30, 300)]


def test_stream_stream_left_outer_emits_unmatched(spark, tmp_path):
    """leftOuter variant: un-clicked impressions surface with NULL click
    columns once the watermark passes their match horizon."""
    from nsdb_spark.streaming.ingest import stream_stream_join

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    spark.createDataFrame(
        [(1, 1000, 10), (2, 1000, 20), (7, 900000, 70)],  # 70 advances the watermark
        "user_id long, its long, imp_id long",
    ).coalesce(1).write.parquet(str(imp_dir))
    spark.createDataFrame(
        [(1, 2000, 100), (8, 900000, 800)],  # 800 advances the click watermark
        "user_id long, cts long, click_id long",
    ).coalesce(1).write.parquet(str(clk_dir))

    imps = spark.readStream.schema("user_id long, its long, imp_id long").parquet(str(imp_dir))
    clks = spark.readStream.schema("user_id long, cts long, click_id long").parquet(str(clk_dir))
    joined = stream_stream_join(
        imps, clks, on="user_id", ts_cols=("its", "cts"),
        window_ms=5000, watermark_ms=10000, how="leftOuter",
    )
    got = []
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(
            (r["imp_id"], r["click_id"]) for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    matched = {p for p in got if p[1] is not None}
    unmatched = {p[0] for p in got if p[1] is None}
    assert matched == {(10, 100)}
    assert 20 in unmatched  # expired without a click -> NULL-padded row


def test_temporal_no_grace_releases_closed_buckets(manager, engine):
    """Without SINCE, a closed bucket's raw values are released on close
    (no amendment path holds them) — driver memory stays bounded.

    Parity fixture: PublisherActorSpec.scala:465 ("do nothing if a late
    event comes for a temporal query without a grace period set")."""
    cb = Collector()
    engine.now_fn = lambda: 1000
    quid = manager.subscribe(
        "select count(*) from people group by interval 1 s", cb,
        time_context=TimeContext(1000),
    )
    manager.publish("default", "default", "people",
                    [{"timestamp": 1500, "value": 1, "name": "X", "surname": "Y"}])
    sub = manager.subs[quid]
    assert sub.buckets  # open bucket holds the value
    engine.now_fn = lambda: 2100
    manager.tick(2100)
    assert cb.pushes[-1][0]["count_value"] == 1
    assert sub.buckets == {}  # released on close
    # a late record for the closed bucket is dropped, not amended
    manager.publish("default", "default", "people",
                    [{"timestamp": 1900, "value": 2, "name": "X", "surname": "Y"}])
    assert sub.buckets == {} and cb.pushes[-1][0]["count_value"] == 1


def test_publisher_spec_late_event_beyond_grace_dropped(manager, engine):
    """Parity fixture: PublisherActorSpec.scala:488 ("do nothing if a
    late event comes beyond the grace period"). Sequence mirrored: 10
    in-bucket events → one closed-bucket push of count 10; an event
    older than now − grace produces NO push and NO state; once the
    grace horizon passes the closed bucket, its amendment state is
    trimmed (lateTemporalBuckets 1 → 0 analogue)."""
    cb = Collector()
    engine.now_fn = lambda: 1000
    quid = manager.subscribe(
        "select count(*) from people group by interval 1 s since 20 s",
        cb, time_context=TimeContext(1000),
    )
    assert len(cb.pushes) == 1  # historical
    manager.publish(
        "default", "default", "people",
        [{"timestamp": 1000 + i, "value": 25, "name": "john", "surname": "D"}
         for i in range(1, 11)],
    )
    engine.now_fn = lambda: 2100
    manager.tick(2100)
    closed = cb.pushes[-1][0]
    assert (closed["lower_bound"], closed["upper_bound"],
            closed["count_value"], closed["amended"]) == (1000, 2000, 10, False)
    n_pushes = len(cb.pushes)
    sub = manager.subs[quid]
    assert 2000 in sub.buckets  # held for amendment within grace

    # event beyond the grace period (ts < now - 20000): dropped outright
    engine.now_fn = lambda: 25000
    manager.publish(
        "default", "default", "people",
        [{"timestamp": 3000, "value": 25, "name": "john", "surname": "D"}],
    )
    assert len(cb.pushes) == n_pushes  # no push
    assert 4000 not in sub.buckets     # no state for the dropped event

    # the grace horizon has passed the closed bucket: tick trims its
    # amendment state (spec's lateTemporalBuckets.size shouldBe 0)
    manager.tick(25000)
    assert 2000 not in sub.buckets


def test_publisher_spec_late_event_within_grace_amends(manager, engine):
    """Parity fixture: PublisherActorSpec.scala:560 ("send an update for
    a late event within a grace period for a temporal query"). Exact
    amended payload sequence mirrored: closed push count 10 → one late
    event → amended push count 11 (same bucket bounds) → ten more late
    events in one batch → ONE amended push count 21.

    Axis note: the spec's buckets are newest-event-anchored; ours are
    the fixed grid the HISTORICAL compiler uses (upper-inclusive
    (lb, ub], pinned by test_temporal_boundary_timestamp_matches_
    historical_axis), so the late event here is mid-bucket — the
    amend/re-push SEQUENCE is the behaviour under test."""
    cb = Collector()
    engine.now_fn = lambda: 1000
    manager.subscribe(
        "select count(*) from people group by interval 1 s since 20 s",
        cb, time_context=TimeContext(1000),
    )
    manager.publish(
        "default", "default", "people",
        [{"timestamp": 1000 + i, "value": 25, "name": "john", "surname": "D"}
         for i in range(1, 11)],
    )
    engine.now_fn = lambda: 2100
    manager.tick(2100)

    # late event within grace: count 10 -> 11, same bounds, amended flag
    manager.publish(
        "default", "default", "people",
        [{"timestamp": 1500, "value": 25, "name": "john", "surname": "D"}],
    )
    # ten more late events in ONE batch: a single amended push, count 21
    manager.publish(
        "default", "default", "people",
        [{"timestamp": 1000 + i, "value": 25, "name": "john", "surname": "D"}
         for i in range(1, 11)],
    )
    seq = [
        (p[0]["lower_bound"], p[0]["upper_bound"],
         p[0]["count_value"], p[0]["amended"])
        for p in cb.pushes[1:]
    ]
    assert seq == [
        (1000, 2000, 10, False),   # bucket close
        (1000, 2000, 11, True),    # single late event amends
        (1000, 2000, 21, True),    # batch of 10 late events: one re-push
    ]


def test_subscribe_buffers_rows_published_during_historical(manager, engine):
    """A row published while the historical scan runs is buffered and
    delivered after the historical payload — not silently lost."""
    pushes = []

    def cb(rows):
        if not pushes:
            # simulate an insert landing mid-scan: the subscription is
            # already registered, so this publish must buffer
            pushes.append(rows)
            manager.publish("default", "default", "people",
                            [{"timestamp": 99, "value": 7, "name": "Frank",
                              "surname": "Doe"}])
            return
        pushes.append(rows)

    manager.subscribe("select * from people where name = Frank", cb)
    assert len(pushes) == 2  # historical, then the flushed buffered row
    assert pushes[1][0]["timestamp"] == 99


def test_temporal_boundary_timestamp_matches_historical_axis(manager, engine):
    """A record exactly on a bucket edge lands upper-INCLUSIVE, the same
    bucket the compiled historical axis assigns it to."""
    cb = Collector()
    engine.now_fn = lambda: 1000
    manager.subscribe(
        "select count(*) from people group by interval 1 s since 10 s", cb,
        time_context=TimeContext(1000),
    )
    engine.now_fn = lambda: 2100
    manager.tick(2100)  # bucket (1000, 2000] closes with 0
    # ts == 2000 belongs to (1000, 2000] — arrives late, amends that bucket
    manager.publish("default", "default", "people",
                    [{"timestamp": 2000, "value": 1, "name": "X", "surname": "Y"}])
    amended = cb.pushes[-1][0]
    assert (amended["lower_bound"], amended["upper_bound"]) == (1000, 2000)
    assert amended["amended"] and amended["count_value"] == 1


def test_stateful_temporal_agg_skips_null_values(spark, tmp_path):
    """NULL values (NaN in the Arrow batch) must not inflate counts or
    poison min/max with NaN — mirrors the batch path's count(value)."""
    from nsdb_spark.streaming.stateful import stream_temporal_agg_stateful

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    spark.createDataFrame(
        [(1000, None), (2000, 5.0), (15000, None)],
        "timestamp long, value double",
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("timestamp long, value double").parquet(src)
    agg = stream_temporal_agg_stateful(stream, interval_ms=10000, anchor_ms=0)
    got = _run_stream(agg, ck)
    # first bucket: one real value; all-NULL bucket: zero-count row, no NaN
    assert (10000, 0, 1, 5.0, 5.0, 5.0, 5.0) in got
    rows2 = [r for r in got if r[0] == 20000]
    assert rows2 == [(20000, 10000, 0, 0.0, None, None, 0.0)]


def test_neardup_alert_arrives_over_websocket(engine, spark, tmp_path):
    """End-to-end join-up of the streaming near-dup alert path: parquet
    docs stream → incremental MinHash index append + probe → alert bit
    inserted into the alert metric → pushed over a REAL WebSocket to a
    client subscribed on `select * from neardup_alerts`. A second
    availableNow run over the same checkpoint/index then alerts only on
    the NEW pair (incremental steady state, no re-alerting)."""
    import uuid as _uuid

    from nsdb_spark import http_api
    from nsdb_spark.streaming import start_neardup_alerts
    from test_http import WsClient

    idx = f"nd_idx_{_uuid.uuid4().hex[:8]}"
    # seed the alert metric so WS registration's historical query works
    engine.insert_bits(
        "default", "default", "neardup_alerts",
        [Bit(1, 0.0, {"doc_a": 0, "doc_b": 0}, {})],
    )
    subs = SubscriptionManager(engine)
    srv, _ = http_api.serve(engine, subscription_manager=subs)
    port = srv.server_address[1]
    c = None
    try:
        c = WsClient(port, "/ws-stream?refresh_period=100&retention_size=100")
        assert c.status == 101
        c.send_json({
            "db": "default", "namespace": "default",
            "metric": "neardup_alerts",
            "queryString": "select * from neardup_alerts",
        })
        reg = c.recv_json()
        assert "quid" in reg
        assert [r["value"] for r in reg["records"]] == [0.0]  # historical

        text_a = "the quick brown fox jumps over the lazy dog again today"
        text_b = "completely different words describing completely other things entirely here now"
        src = tmp_path / "docs_in"
        src.mkdir()
        spark.createDataFrame(
            [(1, text_a), (2, text_b), (3, text_a)],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(str(src))

        def run_once():
            stream = spark.readStream.schema(
                "doc_id long, text string").parquet(str(src))
            q = start_neardup_alerts(
                engine, stream, idx, str(tmp_path / "nd_ckpt"),
                subscription_manager=subs, threshold=0.5,
                available_now=True,
            )
            q.awaitTermination(120)

        run_once()
        push = c.recv_json()  # buffered live push, flushed within 100 ms
        assert push["metric"] == "neardup_alerts"
        assert [(r["doc_a"], r["doc_b"], r["value"]) for r in push["records"]] == [
            (1, 3, 1.0)
        ]

        # the alert landed as a queryable bit too
        rows = engine.execute(
            "select * from neardup_alerts where value > 0.5").collect()
        assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(1, 3)]

        # second batch: doc 4 duplicates doc 2 — only the NEW pair alerts
        spark.createDataFrame(
            [(4, text_b)], "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(str(src))
        run_once()
        push2 = c.recv_json()
        assert [(r["doc_a"], r["doc_b"], r["value"]) for r in push2["records"]] == [
            (2, 4, 1.0)
        ]
    finally:
        if c is not None:
            c.close()
        srv.shutdown()


def test_elapsed_unclosed_bucket_accumulates_without_bogus_amend(manager, engine):
    """A record landing in a bucket that has ELAPSED by wall clock but
    that tick() has not yet closed must accumulate silently: an
    'amended' push for a bucket the client never received would precede
    the real (unamended) delivery at the next tick — duplicate and
    out-of-order. Amendment is for buckets at or below bucket_start."""
    cb = Collector()
    engine.now_fn = lambda: 1000
    manager.subscribe(
        "select count(*) from people group by interval 1 s since 10 s", cb,
        time_context=TimeContext(1000),
    )
    n0 = len(cb.pushes)  # historical payload
    engine.now_fn = lambda: 3500
    manager.publish("default", "default", "people",
                    [{"timestamp": 1500, "value": 1, "name": "X", "surname": "Y"}])
    assert len(cb.pushes) == n0  # no push until the tick closes it
    manager.tick(3500)
    closed = [r for p in cb.pushes[n0:] for r in p]
    b = [r for r in closed if r["upper_bound"] == 2000]
    assert len(b) == 1 and b[0]["count_value"] == 1 and not b[0]["amended"]
    # a genuinely LATE record (bucket already closed) still amends
    manager.publish("default", "default", "people",
                    [{"timestamp": 1600, "value": 1, "name": "X", "surname": "Y"}])
    amended = [r for p in cb.pushes for r in p if r.get("amended")]
    assert [r["upper_bound"] for r in amended] == [2000]
    assert amended[0]["count_value"] == 2


def test_null_agg_target_rows_are_skipped(manager, engine):
    """A published row whose aggregation target is NULL (or absent) is
    skipped — a None in the bucket list would crash sum() at close,
    and the scheduler's keep-alive except would silently starve every
    later subscription."""
    cb = Collector()
    engine.now_fn = lambda: 1000
    manager.subscribe(
        "select sum(value) from people group by interval 1 s since 10 s", cb,
        time_context=TimeContext(1000),
    )
    manager.publish("default", "default", "people", [
        {"timestamp": 2500, "value": None, "name": "X", "surname": "Y"},
        {"timestamp": 2500, "value": 5, "name": "X", "surname": "Y"},
        {"timestamp": 2600, "name": "X", "surname": "Y"},  # absent target
    ])
    manager.tick(3100)
    rows = [r for p in cb.pushes[1:] for r in p]
    b = [r for r in rows if r["upper_bound"] == 3000]
    assert len(b) == 1 and b[0]["sum_value"] == 5


def test_stateful_boundary_timestamp_upper_inclusive(spark, tmp_path):
    """ts exactly on an interval multiple belongs to the bucket it
    CLOSES ((lb, ub], ub == ts) — same convention as the compiled
    historical axis and the live subscription path; floor+1 binning
    would push it one bucket later than a re-query reports it."""
    from nsdb_spark.streaming.stateful import stream_temporal_agg_stateful

    src = str(tmp_path / "src_b")
    ck = str(tmp_path / "ck_b")
    spark.createDataFrame(
        [(10000, 3.0), (10001, 4.0)], "timestamp long, value double",
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("timestamp long, value double").parquet(src)
    agg = stream_temporal_agg_stateful(stream, interval_ms=10000, anchor_ms=0)
    got = _run_stream(agg, ck)
    by_ub = {r[0]: r for r in got}
    assert by_ub[10000][2] == 1 and by_ub[10000][4] == 3.0  # boundary ts
    assert by_ub[20000][2] == 1 and by_ub[20000][4] == 4.0


def test_committed_batch_marker_fails_on_unreadable_marker(spark, tmp_path):
    """Only a MISSING marker means "nothing applied yet" (-1). A garbled
    marker or one that cannot be read raises, so the batch fails instead
    of replaying already-applied batches as duplicate appends."""
    from py4j.protocol import Py4JJavaError

    from nsdb_spark.streaming.ingest import CommittedBatchMarker

    fresh = CommittedBatchMarker(spark, str(tmp_path / "fresh"))
    assert fresh.last() == -1
    fresh.commit(3)
    assert fresh.last() == 3
    garbled = tmp_path / "garbled"
    garbled.mkdir()
    (garbled / "_nsdb_committed_batch").write_text("not-a-batch-id")
    with pytest.raises(ValueError):
        CommittedBatchMarker(spark, str(garbled)).last()
    unreadable = tmp_path / "unreadable"
    (unreadable / "_nsdb_committed_batch").mkdir(parents=True)
    with pytest.raises(Py4JJavaError):
        CommittedBatchMarker(spark, str(unreadable)).last()


def test_neardup_index_replay_is_idempotent(engine, spark, tmp_path):
    """Re-processing a batch (crash between the index write and the
    marker commit) must not duplicate signature rows: each batch lands
    by dynamic partition overwrite of its own ingest_batch partition,
    so a replay replaces rather than appends — duplicated sigs would
    multiply every future candidate pair through the verify join."""
    import shutil
    import uuid as _uuid

    from nsdb_spark.streaming import start_neardup_alerts

    idx = f"nd_idem_{_uuid.uuid4().hex[:8]}"
    src = tmp_path / "docs_idem"
    src.mkdir()
    text = "the quick brown fox jumps over the lazy dog again today"
    spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(str(src))

    def run(ck):
        stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
        q = start_neardup_alerts(engine, stream, idx, ck, threshold=0.5,
                                 available_now=True)
        q.awaitTermination(120)

    run(str(tmp_path / "nd_ck1"))
    # simulate the replay: fresh checkpoint (marker included) over the
    # same files and the same index — batch 0 is fully re-processed
    run(str(tmp_path / "nd_ck2"))
    sigs = spark.table(idx)
    assert sigs.count() == 2
    assert sigs.groupBy("doc_id").count().filter("count > 1").count() == 0


def test_seasonal_anomaly_alert_over_subscription(engine, spark, tmp_path):
    """End-to-end streaming anomaly path: a frozen seasonal baseline is
    fitted from history (even-ms phases expect 10, odd expect 20), a
    streamed batch carries one wild value among normal ones, and exactly
    that event lands as an alert bit AND reaches a subscribed callback;
    a replayed availableNow run over the same checkpoint fires nothing."""
    from nsdb_spark.streaming import (
        SubscriptionManager,
        fit_seasonal_baseline,
        start_seasonal_anomaly_alerts,
    )

    history = spark.createDataFrame(
        [(i, "k", i, 10.0 if i % 2 == 0 else 20.0) for i in range(200)],
        "event_id long, event_type string, timestamp long, value double",
    )
    # small noise so sigma > 0 (constant residuals would disable alerts)
    history = history.withColumn(
        "value", history.value + (history.event_id % 5) * 0.01
    )
    baseline = fit_seasonal_baseline(
        history, period_ms=2, bucket_ms=1
    )
    assert {b["phase"] for b in baseline} == {0, 1}

    # live subscription on the alert metric (seed for historical payload)
    engine.insert_bits(
        "default", "default", "anomaly_alerts",
        [Bit(1, 0.0, {"src_id": 0, "grp": "seed"}, {})],
    )
    subs = SubscriptionManager(engine)
    got: list = []
    subs.subscribe(
        "select * from anomaly_alerts", lambda payload: got.append(payload),
        db="default", ns="default",
    )

    src = tmp_path / "ev_in"
    src.mkdir()
    spark.createDataFrame(
        [(1000, "k", 300, 10.01), (1001, "k", 301, 20.02),
         (1002, "k", 302, 500.0)],   # the anomaly (even phase, expects ~10)
        "event_id long, event_type string, timestamp long, value double",
    ).coalesce(1).write.mode("append").parquet(str(src))

    def run_once():
        stream = spark.readStream.schema(
            "event_id long, event_type string, timestamp long, value double"
        ).parquet(str(src))
        q = start_seasonal_anomaly_alerts(
            engine, stream, baseline, str(tmp_path / "an_ckpt"),
            subscription_manager=subs, period_ms=2, bucket_ms=1, z=3.0,
            available_now=True,
        )
        q.awaitTermination(120)

    run_once()
    rows = engine.execute(
        "select * from anomaly_alerts where src_id >= 1000").collect()
    assert [(r["src_id"], r["grp"]) for r in rows] == [(1002, "k")]
    assert rows[0]["value"] > 3.0 and rows[0]["timestamp"] == 302
    live = [r for p in got for r in p if r.get("src_id", 0) >= 1000]
    assert [(r["src_id"], r["value"] > 3.0) for r in live] == [(1002, True)]

    # replay: same checkpoint, no new files -> no duplicate alerts
    run_once()
    rows2 = engine.execute(
        "select count(*) from anomaly_alerts where src_id >= 1000").collect()
    assert rows2[0][0] == 1


def test_publish_tap_bounds_driver_traffic_under_subscription_mix(
    engine, spark, tmp_path
):
    """The scale property the round-1 fix claimed, pinned end-to-end: with
    a MIX of high-selectivity subscriptions registered, the rows the tap
    hands to publish() are the UNION of the predicates' matches — NOT the
    whole batch. 10k ingested rows with ~30 total matches must reach the
    driver as ≤ the union superset, and each callback sees only its own
    matches."""
    from nsdb_spark.streaming.subscribe import SubscriptionManager
    from nsdb_spark.streaming.ingest import start_parquet_ingestion

    engine.insert_bits("default", "default", "mix", [Bit(1, 1, {}, {"name": "seed"})])
    sub = SubscriptionManager(engine)
    cb_hi, cb_lo, cb_name = Collector(), Collector(), Collector()
    sub.subscribe("select * from mix where value >= 99000", cb_hi)       # top 10
    sub.subscribe("select * from mix where value < 10", cb_lo)           # bottom 10 (incl. seed)
    sub.subscribe("select * from mix where name = needle", cb_name)     # 10 tagged rows

    published = []
    orig_publish = sub.publish

    def spy_publish(db, ns, metric, rows):
        published.append(len(rows))
        return orig_publish(db, ns, metric, rows)

    sub.publish = spy_publish

    src = tmp_path / "in"
    src.mkdir()
    n = 10_000
    rows = [(100 + i, i * 10, "needle" if i % 1000 == 0 else "hay")
            for i in range(n)]
    spark.createDataFrame(
        rows, "timestamp long, value long, name string"
    ).coalesce(4).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(
        "timestamp long, value long, name string"
    ).parquet(str(src))
    q = start_parquet_ingestion(
        engine, "default", "default", "mix", stream,
        checkpoint_dir=str(tmp_path / "ck"), available_now=True,
        subscription_manager=sub,
    )
    q.awaitTermination(60)

    # union of matches: value>=99000 → 100 rows (i>=9900... value=i*10) —
    # recompute exactly below instead of trusting mental math
    hi = sum(1 for _, v, _ in rows if v >= 99000)
    lo = sum(1 for _, v, _ in rows if v < 10)
    nm = sum(1 for _, _, s in rows if s == "needle")
    union_max = hi + lo + nm  # upper bound (overlaps only shrink it)
    assert published, "tap never published"
    assert sum(published) <= union_max < n / 10, (published, union_max)
    # each callback got exactly its own matches (pushes[0] = historical)
    assert sum(len(p) for p in cb_hi.pushes[1:]) == hi
    assert sum(len(p) for p in cb_lo.pushes[1:]) == lo
    assert sum(len(p) for p in cb_name.pushes[1:]) == nm
    # and the full batch still landed in the warehouse
    assert engine.execute("select count(*) from mix").collect()[0][0] == n + 1


def test_identical_agg_subscriptions_execute_once_per_tick(manager, engine):
    """N subscribers on the SAME standard-agg statement cost at most ONE
    engine execution per tick, fanned out to every callback with
    independent payload dicts — and a tick with NO intervening write
    costs ZERO executions: the historical scan populated the engine's
    token-guarded result cache and the tick serves it. Every execution
    in the tick plans through _plan_select or reads the shard files
    through _read_aggregate_rows, so an empty spy log == zero
    executions. (The reference re-executes per
    subscription every tick — PublisherActor.scala:205-218 — so both the
    coalescing and the cache serve are improvements, not parity breaks:
    payloads are identical by construction.)"""
    engine.now_fn = lambda: 100
    same = [Collector() for _ in range(10)]
    other = Collector()
    for cb in same:
        manager.subscribe("select sum(value) from people group by name", cb)
    manager.subscribe("select count(*) from people", other)

    execs = []
    orig = engine._plan_select
    read = engine._read_aggregate_rows

    def spy(stmt, tc=None, **kw):
        execs.append(repr(stmt))
        return orig(stmt, tc, **kw)

    def read_spy(file_read):
        execs.append(repr(file_read.parsed.statement))
        return read(file_read)

    engine._plan_select = spy
    engine._read_aggregate_rows = read_spy
    try:
        manager.tick(5100)
        # no write landed since the historical scans → zero executions,
        # and every subscriber still got a push identical to historical
        assert execs == []
        for cb in same:
            assert len(cb.pushes) == 2  # historical + tick
            assert cb.pushes[1] == cb.pushes[0]
            assert {r["name"]: r["sum_value"] for r in cb.pushes[1]}["John"] == 3
        assert len(other.pushes) == 2 and other.pushes[1] == other.pushes[0]

        # a write bumps the metric token → the next tick re-executes,
        # once per DISTINCT statement (2), not per subscriber (11)
        engine.insert_bits(
            "default", "default", "people",
            [Bit(50, 7, {"surname": "Zed"}, {"name": "John"})],
        )
        manager.tick(10100)
    finally:
        engine._plan_select = orig
        del engine._read_aggregate_rows
    assert len(execs) == 2 and len(set(execs)) == 2
    for cb in same:
        assert len(cb.pushes) == 3
        assert {r["name"]: r["sum_value"] for r in cb.pushes[2]}["John"] == 10
    assert len(other.pushes) == 3
    # payload isolation: one subscriber mutating its rows must not leak
    same[0].pushes[2][0]["sum_value"] = -999
    assert same[1].pushes[2][0]["sum_value"] != -999


def test_agg_tick_fanout_isolates_nested_payload_values(manager, engine):
    """Deep-copy fan-out: a callback mutating a NESTED mutable value in
    its payload (array/map-typed aggregate results) must not leak into
    sibling subscribers — the shallow-dict-copy hazard: dict(r) isolates
    top-level keys but shares nested lists."""
    from pyspark.sql import Row

    engine.now_fn = lambda: 100
    a, b = Collector(), Collector()
    manager.subscribe("select sum(value) from people group by name", a)
    manager.subscribe("select sum(value) from people group by name", b)

    orig = engine.collect_select
    engine.collect_select = lambda stmt, tc=None: [
        Row(name="John", vals=["x", "y"])
    ]
    try:
        manager.tick(5100)
    finally:
        engine.collect_select = orig
    assert a.pushes[-1][0]["vals"] == ["x", "y"]
    a.pushes[-1][0]["vals"].append("MUTATED")
    assert b.pushes[-1][0]["vals"] == ["x", "y"]
