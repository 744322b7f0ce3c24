"""Physical-plan regression tests: the scale properties the engine relies
on (SURVEY.md §4) must be visible in the executed plan, not assumed.

- WHERE compiles into the parquet scan (≡ NSDb predicate pushdown,
  ExpressionParser.scala:39-235).
- timestamp ranges prune shard partitions (≡ location filtering,
  ReadNodesSelection.scala:40-49).
- aggregations split partial/final with map-side combine (≡ the
  shard→node reduce tree, post_proc/package.scala).
"""
import itertools
import random

import pytest

from nsdb_spark.model import Bit
from nsdb_spark.sources import testdata

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def finished_plans(monkeypatch):
    """Plans of the frames operators hand to `Rounds.finish`, read while
    their pins are still held (the finished frame's own plan is a scan of
    its checkpoint)."""
    from nsdb_spark.operators.rounds import Rounds

    plans = []
    finish = Rounds.finish

    def record(self, out):
        plans.append(plan_of(out))
        return finish(self, out)

    monkeypatch.setattr(Rounds, "finish", record)
    return plans


@pytest.fixture()
def sharded_engine(engine):
    engine.warehouse.init_metric("default", "default", "planm", 10000)
    engine.insert_bits(
        "default", "default", "planm",
        [Bit(t, t, {}, {"g": "x"}) for t in range(0, 100000, 5000)],
    )
    return engine


def test_filter_pushdown_reaches_parquet_scan(spark):
    # cached subtrees from other tests would replace the FileScan with an
    # InMemoryRelation and hide the pushdown we're asserting on
    spark.catalog.clearCache()
    # plan rendering elides filter lists at 100 chars by default
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    df = testdata.run_nsdb_on_events(
        spark, SF_DIR,
        "select event_id from events where value >= 150 and event_type = purchase",
    )
    scan = plan_of(df).split("FileScan", 1)[1]
    assert ">= 150" in scan.split("ReadSchema")[0]
    assert "purchase" in scan.split("ReadSchema")[0]


def test_column_pruning_reads_only_projected(spark):
    spark.catalog.clearCache()
    df = testdata.run_nsdb_on_events(
        spark, SF_DIR, "select event_type from events limit 5"
    )
    scan = plan_of(df).split("FileScan", 1)[1]
    # projection = timestamp, value, event_type → props/user_id not read
    assert "props" not in scan.split("ReadSchema")[0]


def test_shard_partition_pruning(sharded_engine):
    df = sharded_engine.execute("select * from planm where timestamp in (42000, 58000)")
    plan = plan_of(df)
    i = plan.find("PartitionFilters")
    assert i >= 0
    assert "shard_start" in plan[i : i + 120]
    assert sorted(r[0] for r in df.collect()) == [45000, 50000, 55000]


def test_groupby_partial_final_split(sharded_engine):
    df = sharded_engine.execute("select sum(value) from planm group by g")
    plan = plan_of(df)
    assert "partial_sum" in plan
    # exactly one shuffle: the final aggregation exchange
    assert plan.count("Exchange hashpartitioning") == 1


def test_temporal_bucket_join_is_broadcast(sharded_engine):
    df = sharded_engine.execute("select sum(value) from planm group by interval 20s")
    assert "BroadcastExchange" in plan_of(df)


def test_broadcast_bucket_axis_is_one_split(sharded_engine):
    """An analytics-session temporal read broadcasts its per-bucket side
    and streams the axis through the join: one range split (one task),
    not one per core."""
    df = sharded_engine.execute("select sum(value) from planm group by interval 20s")
    assert df.sparkSession is sharded_engine.spark
    plan = plan_of(df)
    assert "BroadcastExchange" in plan
    assert "splits=1)" in plan and "splits=" not in plan.replace("splits=1)", "")


#: job group numbers: one group per measured call (an id() of the callable
#: can repeat once the previous one is freed, merging two calls' jobs)
_GROUPS = itertools.count()


def _jobs_and_tasks(spark, fn) -> tuple[int, int, object]:
    """(Spark jobs, tasks of their executed stages, result) of one call."""
    sc = spark.sparkContext
    group = f"jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        for sid in tracker.getJobInfo(j).stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None and stage.numCompletedTasks > 0:
                tasks += stage.numTasks
    return len(jobs), tasks, out


def _jobs_during(spark, fn) -> tuple[int, object]:
    """(Spark jobs, result) of one call."""
    jobs, _tasks, out = _jobs_and_tasks(spark, fn)
    return jobs, out


def _jobs_of(engine, sql: str) -> tuple[int, list]:
    """(Spark jobs, rows) of planning and collecting one statement."""
    from nsdb_spark.sql.parser import parse

    return _jobs_during(
        engine.spark,
        lambda: engine.collect_select(parse(sql, db="default", namespace="default")),
    )


def _executed(engine, sql: str):
    """The execute_select thunk of one statement: plan and collect through
    Spark (collect_select reads shard-pruned aggregates from the files)."""
    from nsdb_spark.sql.parser import parse

    return lambda: engine.execute_select(
        parse(sql, db="default", namespace="default")
    ).collect()


def test_shard_pruned_temporal_read_runs_one_job(sharded_engine):
    """A temporal read whose pruning leaves 3 of planm's 10 shards plans
    on the interpreted one-partition serving session: the axis join is a
    merge join inside the result job (no broadcast collect job, no
    range-sampling job for the final sort), so the whole read is ONE
    Spark job and the plan has no BroadcastExchange and no
    WholeStageCodegen span. (execute_select: collect_select reads it from
    the shard files.)"""
    sql = (
        "select sum(value) from planm where timestamp >= 40000 and "
        "timestamp < 70000 group by interval 10s"
    )
    df = sharded_engine.execute(sql)
    assert df.sparkSession is sharded_engine._serving_session()
    plan = plan_of(df)
    assert "BroadcastExchange" not in plan
    assert "WholeStageCodegen" not in plan
    jobs, rows = _jobs_during(sharded_engine.spark, _executed(sharded_engine, sql))
    assert jobs == 1
    assert [tuple(r) for r in rows] == [
        (49999, 40000, 49999, 85000),
        (59999, 49999, 59999, 105000),
        (69999, 59999, 69999, 125000),
    ]


def test_shard_pruned_tag_group_by_runs_one_job(sharded_engine):
    """A shard-pruned tag group-by runs its partial/final aggregate in one
    job on the serving session: no AQE shuffle-map job before it
    (execute_select: collect_select reads it from the shard files)."""
    sql = "select count(*) from planm where timestamp >= 40000 and timestamp < 70000 group by g"
    assert sharded_engine.execute(sql).sparkSession is sharded_engine._serving_session()
    jobs, rows = _jobs_during(sharded_engine.spark, _executed(sharded_engine, sql))
    assert jobs == 1
    assert [tuple(r) for r in rows] == [("x", 6)]


@pytest.mark.parametrize("sql", [
    "select count(*) from planm where timestamp >= 40000 and timestamp < 70000 group by g",
    "select count(*) from planm where timestamp >= 40000 and timestamp < 70000",
    "select sum(value) from planm where timestamp >= 40000 and timestamp < 70000 "
    "group by interval 10s",
])
def test_shard_pruned_serving_aggregate_is_one_task(sharded_engine, sql):
    """A shard-pruned tag group-by, global aggregate or temporal read on
    the serving session reads its pruned shards as ONE partition, so its
    aggregate and axis merge join need no Exchange: one job of one task,
    with the shard pruning still in the scan (execute_select:
    collect_select reads it from the shard files)."""
    df = sharded_engine.execute(sql)
    assert df.sparkSession is sharded_engine._serving_session()
    plan = plan_of(df)
    assert "Exchange" not in plan
    i = plan.find("PartitionFilters")
    assert i >= 0 and "shard_start" in plan[i : i + 120]
    jobs, tasks, _ = _jobs_and_tasks(sharded_engine.spark, _executed(sharded_engine, sql))
    assert (jobs, tasks) == (1, 1)


@pytest.mark.parametrize("sql, want", [
    ("select count(*) from planm where timestamp >= 40000 and timestamp < 70000 group by g",
     [("x", 6)]),
    ("select count(*), max(value) from planm where timestamp >= 40000 and timestamp < 70000",
     [(6, 65000)]),
    ("select sum(value) from planm where timestamp >= 40000 and timestamp < 70000 "
     "group by interval 10s",
     [(49999, 40000, 49999, 85000), (59999, 49999, 59999, 105000),
      (69999, 59999, 69999, 125000)]),
])
def test_novel_aggregate_read_runs_no_spark_job(sharded_engine, sql, want):
    """A novel shard-pruned tag group-by, global or temporal aggregate
    (3 of planm's 10 shards) is read from the shard files with pyarrow
    through collect_select: no Spark job."""
    jobs, rows = _jobs_of(sharded_engine, sql)
    assert (jobs, [tuple(r) for r in rows]) == (0, want)


@pytest.mark.parametrize("sql", [
    # a registered group rollup serves it
    "select sum(value) from planm group by g",
    # mixed plain+aggregate global
    "select value, count(*) from planm where timestamp >= 40000 and timestamp < 70000 "
    "limit 3",
])
def test_rollup_and_mixed_aggregate_reads_keep_spark(sharded_engine, sql):
    """The twins the file route leaves to Spark: a rollup-eligible
    group-by (the rollup keeps precedence) and a mixed plain+aggregate
    global each run a Spark job through collect_select."""
    sharded_engine.materialize_group_rollup("default", "default", "planm", "g")
    jobs, rows = _jobs_of(sharded_engine, sql)
    assert jobs >= 1 and rows


@pytest.mark.parametrize("name", [
    "nsdb_groupby_sum", "nsdb_temporal_count", "nsdb_temporal_since",
    "rollup_temporal_sum", "rollup_percentiles", "rollup_temporal_percentile",
    "rollup_group_percentile",
])
def test_known_schema_entry_build_launches_no_job(spark, name):
    """Building a registry entry over a testdata directory whose table
    schema is already known runs no Spark job: the events schema is
    inferred once (one job), later reads pass it, a temporal entry
    takes its extent (and `now`) from the events file's footer, and a
    quantile rollup entry its value grid."""
    from nsdb_spark.entry_queries import build_queries
    from nsdb_spark.sources import parquet

    build = build_queries()[name]
    parquet._SCHEMAS.clear()
    cold, _ = _jobs_during(spark, lambda: build(spark, SF_DIR))
    warm, df = _jobs_during(spark, lambda: build(spark, SF_DIR))
    assert (cold, warm) == (1, 0)
    assert df.collect()


def test_rollup_percentiles_reduces_the_rollup_once(spark):
    """rollup_percentiles takes its total n from the window that yields
    the cumulative, over the same <= nbins rows: the rollup is reduced
    once, with no second reduction broadcast into a cross join. Its
    collect runs 8 jobs at sf0.001 under AQE (10 when n was a separate
    aggregate)."""
    from nsdb_spark.entry_queries import build_queries

    df = build_queries()["rollup_percentiles"](spark, SF_DIR)
    jobs, rows = _jobs_during(spark, df.collect)
    assert (jobs, len(rows)) == (8, 4)
    assert "CartesianProduct" not in plan_of(df)


def test_temporal_compile_without_locations_is_empty_and_runs_no_job(spark):
    """A temporal statement compiled with no shard locations (no data)
    returns the empty temporal result, built and collected without a
    Spark job."""
    from nsdb_spark.analyzer import analyze
    from nsdb_spark.compiler import QueryCompiler, TimeContext
    from nsdb_spark.sql.parser import parse

    parsed = analyze(
        parse("select count(*) from events group by interval 1d"), testdata.EVENTS_SCHEMA
    )
    compiler = QueryCompiler(spark, shard_interval_ms=testdata.SHARD_INTERVAL_MS)
    frame = testdata.events_metric(spark, SF_DIR)
    jobs, df = _jobs_during(
        spark,
        lambda: compiler.compile(
            frame, testdata.EVENTS_SCHEMA, parsed, TimeContext(0), locations=[]
        ),
    )
    assert jobs == 0
    assert df.columns == ["timestamp", "lower_bound", "upper_bound", "count_value"]
    assert _jobs_during(spark, df.collect) == (0, [])


def test_rollup_read_of_unchanged_store_skips_schema_job(sharded_engine):
    """A rollup-routed read of a store whose schema is known runs one job
    fewer than a read that infers it (every read before stores reused
    their schema): the inference job is gone, the rows are the same."""
    from nsdb_spark.sources import parquet
    from nsdb_spark.sql.parser import parse

    sharded_engine.materialize_rollup("default", "default", "planm", 10000)
    stmt = parse(
        "select sum(value) from planm group by interval 20s",
        db="default", namespace="default",
    )

    def read():
        sharded_engine.invalidate_plan_caches()
        return sharded_engine.collect_select(stmt)

    parquet._SCHEMAS.clear()
    cold, rows = _jobs_during(sharded_engine.spark, read)
    warm, again = _jobs_during(sharded_engine.spark, read)
    assert warm == cold - 1
    assert again == rows and len(rows) == 5


def test_insert_frame_is_one_spark_write(engine, spark, tmp_path):
    """A bulk insert into a metric without rollups is ONE Spark write (its
    shuffle-map job and its write job): the checks read the staged
    files' footers, so there is no cached copy of the input and no
    separate stats job."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(t, float(t), "a" if t % 3 else "b") for t in range(0, 60_000, 100)],
        "timestamp long, value double, g string",
    ).write.parquet(src)
    engine.warehouse.init_metric("default", "default", "bulk", 10_000)
    # (reading a parquet source infers its schema in a job of its own)
    df = spark.read.parquet(src)
    jobs, n = _jobs_during(spark, lambda: engine.insert_frame("default", "default", "bulk", df))
    assert n == 600
    assert jobs == 2
    assert engine.warehouse.locations("default", "default", "bulk") == list(range(0, 60_000, 10_000))


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The corpus side must never shuffle for the match: benchmark gram
    hashes broadcast, and the only corpus-keyed exchange is the final
    doc_id aggregate (the other hash exchange is the small bench-side
    distinct)."""
    from nsdb_spark.operators import dedup

    spark.catalog.clearCache()
    docs = testdata.table(spark, SF_DIR, "documents")
    from pyspark.sql import functions as F

    plan = plan_of(dedup.decontaminate(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        n=4,
    ))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_bm25_df_side_broadcast_and_single_wide_shuffle(spark):
    """BM25's wide shuffle is the (doc, term) tf aggregate only: the
    document-frequency side must broadcast (never shuffle the corpus
    again) and doc length must NOT introduce a doc-keyed join."""
    from nsdb_spark.operators import ranking

    spark.catalog.clearCache()
    docs = testdata.table(spark, SF_DIR, "documents")
    plan = plan_of(ranking.bm25_topk(docs, ["join", "hash", "scan"], k=5))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # global top-k must be TakeOrdered (per-partition k), never a
    # single-partition global rank window over every scored doc
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_no_exchange_under_join(spark, tmp_path):
    """Both sides bucketed on the join key: the sort-merge join reads
    bucket files directly — no Exchange (shuffle) below the join. The
    only shuffle in the whole query is the final tiny group-by."""
    from nsdb_spark.sources import bucketed

    orders = testdata.table(spark, SF_DIR, "orders")
    customer = testdata.table(spark, SF_DIR, "customer")
    out = bucketed.cohort_order_stats(
        spark, orders, customer, buckets=4, table_prefix="plan_bkt"
    )
    # hint("merge") pins SMJ (AQE would broadcast this small test dim —
    # the bucketing claim is about the big-big case broadcast can't serve)
    joined = spark.table("plan_bkt_orders").hint("merge").join(
        spark.table("plan_bkt_customer"), "o_custkey"
    )
    jplan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in jplan
    assert "Exchange" not in jplan  # co-located: zero shuffle for the join
    assert "SelectedBucketsCount" in jplan


def test_tsa_rate_single_exchange(spark):
    """Per-key window analytics shuffle once on the key; the window sort
    happens inside partitions."""
    from nsdb_spark.operators import tsa

    df = testdata.events_metric(spark, SF_DIR)
    plan = plan_of(tsa.counter_rate(df))
    assert plan.count("Exchange hashpartitioning") == 1


def test_bm25_phrase_filter_before_shuffle(spark):
    """The phrase predicate is a narrow scan-side filter; the final
    top-k is TakeOrdered, not a global window."""
    from nsdb_spark.operators import ranking

    spark.catalog.clearCache()
    docs = testdata.table(spark, SF_DIR, "documents")
    plan = plan_of(ranking.bm25_topk_phrase(docs, "table scan", k=5))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_histogram_filter_pushed_to_scan(spark):
    from nsdb_spark.operators import analytics

    spark.catalog.clearCache()
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    ev = testdata.events_metric(spark, SF_DIR)
    plan = plan_of(analytics.histogram(ev, "value", 0.0, 500.0, 20))
    scan = plan.split("FileScan", 1)[1].split("ReadSchema")[0]
    assert "GreaterThanOrEqual(value,0.0)" in scan
    assert plan.count("Exchange hashpartitioning") == 1  # nbins-row agg only


def test_window_topk_single_exchange(spark):
    from nsdb_spark.operators import analytics

    spark.catalog.clearCache()
    orders = testdata.table(spark, SF_DIR, "orders")
    plan = plan_of(
        analytics.topk_per_group(orders, "o_custkey", "o_totalprice", 2, "o_orderkey")
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_rollup_axis_join_is_broadcast(spark):
    from nsdb_spark.operators import rollup

    spark.catalog.clearCache()
    ev = testdata.events_metric(spark, SF_DIR)
    df = rollup.temporal_agg_via_rollup(
        spark, ev, 86400000, 604800000, 2592000000, "sum", "sum_value"
    )
    plan = plan_of(df)
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_rollup_axis_join_broadcast_is_capped(spark):
    """Rollup serving shares the raw compiler's broadcast cap: the
    per-bucket side of a > 1M-bucket axis (1 s buckets over a month of
    shards) must not broadcast, since that can OOM the driver; a
    dashboard-sized axis still does. Plans only, nothing collected."""
    from nsdb_spark.operators import rollup

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        df = spark.createDataFrame([(100, 1.0)], "timestamp long, value double")
        r, _ = rollup.build_temporal_rollup(df, 1000, 1000, bounds=(0, 1000))
        month = (0, 30 * 86_400_000)  # 2.59M one-second buckets
        big = rollup.temporal_from_rollup(spark, r, month, 1000, 1000, "sum", "s")
        assert "BroadcastExchange" not in plan_of(big)
        small = rollup.temporal_from_rollup(spark, r, (0, 60_000), 1000, 1000, "sum", "s")
        assert "BroadcastExchange" in plan_of(small)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_split_assignment_no_shuffle(spark):
    from nsdb_spark.operators import sampling

    spark.catalog.clearCache()
    ev = testdata.table(spark, SF_DIR, "events").select("event_id")
    plan = plan_of(
        sampling.train_val_test_split(ev, "event_id", {"train": 0.9, "test": 0.1})
    )
    assert "Exchange" not in plan


def test_pack_sequences_avoids_global_window(spark):
    """The global prefix sum must come from the two-phase scan, never an
    Exchange SinglePartition (which would serialize the whole corpus
    through one task). The final plan is truncated by pack_sequences'
    localCheckpoint (which pins one repartitionByRange evaluation), so
    the rangepartitioning shape is asserted on the pre-checkpoint frame."""
    from nsdb_spark.operators import packing

    spark.catalog.clearCache()
    docs = testdata.table(spark, SF_DIR, "documents")
    pre = plan_of(packing._local_prefix_frame(docs, "text"))
    assert "rangepartitioning" in pre
    assert "Exchange SinglePartition" not in pre
    plan = plan_of(packing.pack_sequences(docs, budget=512))
    assert "Exchange SinglePartition" not in plan


def test_postings_query_prunes_term_buckets(spark):
    """The materialized inverted index is term-bucketed: a |Q|-term query
    must open only the buckets those terms hash to (SelectedBucketsCount),
    not the whole postings table."""
    from nsdb_spark.operators import ranking

    docs = spark.createDataFrame(
        [(i, f"w{i % 50} join scan t{i}") for i in range(200)],
        "doc_id long, text string",
    )
    n_docs, avgdl = ranking.write_postings_table(docs, "plan_postings", buckets=8)
    out = ranking.bm25_topk_postings(
        spark, "plan_postings", n_docs, avgdl, ["join", "scan"], k=5
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    pruned = re.findall(r"SelectedBucketsCount: (\d+) out of 8", plan)
    assert pruned and all(int(p) < 8 for p in pruned)


def _partitions_read(df) -> list[int]:
    """Execute df and return each file scan's numPartitions metric —
    the count of partition DIRECTORIES the file index kept after
    partition pruning."""
    df.collect()
    ep = df._jdf.queryExecution().executedPlan()
    leaves = ep.collectLeaves()
    vals = []
    for i in range(leaves.length()):
        m = leaves.apply(i).metrics()
        if m.contains("numPartitions"):
            vals.append(int(m.apply("numPartitions").value()))
    return vals


def test_ivf_probe_prunes_cell_partitions(spark):
    """The stored-assignment ANN path: cell is a write-time partition
    column, so an nprobe-cell probe must open only those cells'
    directories (scan numPartitions metric), never re-assign or scan the
    corpus."""
    from nsdb_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [float(i % 8), float((i * 3) % 5), float(i % 2), 1.0]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    cents = [[float(c), float((c * 3) % 5), float(c % 2), 1.0] for c in range(8)]
    similarity.write_ivf_index(emb, "plan_ivf", cents)
    q = [7.0, 1.0, 1.0, 1.0]
    out = similarity.ivf_topk_indexed(spark, "plan_ivf", q, cents, k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan
    read = _partitions_read(out)
    assert read and all(p <= 2 for p in read)  # nprobe=2 of 8 cells
    # stored path ≡ query-time-assign path
    assert out.collect() == similarity.ivf_topk(emb, q, cents, k=5, nprobe=2).collect()

    # incremental append: new vectors land in their cell dirs and the
    # pruned probe sees them — equal to query-time assign on the union
    extra = spark.createDataFrame(
        [(1000 + i, [float(i % 8), float((i * 3) % 5), float(i % 2), 1.0])
         for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    similarity.append_ivf_index(extra, "plan_ivf", cents)
    out2 = similarity.ivf_topk_indexed(spark, "plan_ivf", q, cents, k=5, nprobe=2)
    both = emb.unionByName(extra)
    assert out2.collect() == similarity.ivf_topk(both, q, cents, k=5, nprobe=2).collect()
    read2 = _partitions_read(
        similarity.ivf_topk_indexed(spark, "plan_ivf", q, cents, k=5, nprobe=2)
    )
    assert read2 and all(p <= 2 for p in read2)  # pruning survives append


def test_ivfpq_indexed_prunes_and_column_prunes(spark):
    """Stored IVF-PQ: the ADC scan opens only the probed cells'
    directories AND reads only (id, cell, codes) — the raw vector column
    is read solely for the shortlist re-rank. Results == inline path."""
    from nsdb_spark.operators import pq, similarity

    emb = spark.createDataFrame(
        [(i, [float(i % 8), float((i * 3) % 5), float(i % 2) + 0.1 * (i % 11), 1.0])
         for i in range(240)],
        "vec_id long, embedding array<float>",
    )
    cents = [[float(c), float((c * 3) % 5), float(c % 2), 1.0] for c in range(8)]
    cbs = pq.write_ivfpq_index(emb, "plan_ivfpq", cents, m=2, ks=8, iters=2)
    q = [7.0, 1.0, 1.0, 1.0]
    out = pq.ivfpq_topk_indexed(
        spark, "plan_ivfpq", cbs, cents, q, k=5, nprobe=2, shortlist=50
    )
    rows = out.collect()
    ep = out._jdf.queryExecution().executedPlan().toString()
    # the codes scan prunes partitions; its ReadSchema must NOT include
    # the vector column (column pruning of the compressed scan)
    import re

    scans = re.findall(r"FileScan parquet [^\n]*", ep)
    codes_scans = [s for s in scans if "codes" in s]
    assert codes_scans and all("embedding" not in s for s in codes_scans)
    inline = pq.ivfpq_search(
        emb, q, cents, k=5, nprobe=2, m=2, ks=8, iters=2, shortlist=50
    ).collect()
    assert rows == inline


def test_rhp_probe_prunes_sig_partitions(spark):
    """SRP stored-signature path: probe = sig IN (1+planes values) against
    the sig-partitioned layout — partition-pruned scan, results identical
    to the query-time-signature variant."""
    from nsdb_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [float(i % 7) - 3.0, float((i * 5) % 11) - 5.0, float(i % 3) - 1.0, 1.0])
         for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    planes = similarity.deterministic_hyperplanes(6, 4)
    similarity.write_rhp_index(emb, "plan_rhp", planes)
    q = [1.0, -2.0, 0.5, 1.0]
    out = similarity.rhp_topk_indexed(spark, "plan_rhp", q, planes, k=5, multiprobe=1)
    read = _partitions_read(out)
    # at most the 7 probed signatures' directories, of up to 2^6 present
    assert read and all(p <= 7 for p in read)
    expected = similarity.rhp_topk(emb, q, planes, k=5, multiprobe=1).collect()
    assert out.collect() == expected

    # bounded-partition layout (sig mod P dirs — the >8-planes shape):
    # same results, pruning to <= the probed residues of P directories
    similarity.write_rhp_index(emb, "plan_rhp_p", planes, partitions=8)
    out_p = similarity.rhp_topk_indexed(
        spark, "plan_rhp_p", q, planes, k=5, multiprobe=1, partitions=8
    )
    probes = similarity.rhp_query_probes(q, planes, 1)
    residues = {p % 8 for p in probes}
    read_p = _partitions_read(out_p)
    assert read_p and all(p <= len(residues) for p in read_p)
    assert out_p.collect() == expected


def test_revenue_chain_plan_shape(spark):
    """The 3-table chain must (a) reduce lineitem to per-order rows BELOW
    the big-big join (partial aggregate before the orderkey exchange) and
    (b) bring the customer dim in as a BroadcastHashJoin — the fact flow
    never re-shuffles on custkey."""
    from nsdb_spark.operators import joins

    li = spark.createDataFrame(
        [(i % 10, 100.0, 0.1) for i in range(100)],
        "l_orderkey long, l_extendedprice double, l_discount double",
    )
    orders = spark.createDataFrame(
        [(i, i % 5, "P%d" % (i % 2)) for i in range(10)],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    )
    cust = spark.createDataFrame(
        [(i, "SEG%d" % (i % 2)) for i in range(5)],
        "c_custkey long, c_mktsegment string",
    )
    plan = joins.revenue_chain(li, orders, cust)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the partial aggregate on l_orderkey appears below the join in the
    # plan tree: find a HashAggregate on l_orderkey that is NOT above a join
    import re
    join_pos = min(plan.find("SortMergeJoin") % 10**9, plan.find("ShuffledHashJoin") % 10**9,
                   plan.find("BroadcastHashJoin") % 10**9)
    agg_pos = plan.find("HashAggregate(keys=[l_orderkey")
    assert agg_pos > join_pos  # deeper in the printed tree = below the join


def test_quality_lr_no_shuffle(spark):
    from nsdb_spark.operators import selection

    docs = testdata.table(spark, SF_DIR, "documents")
    plan = plan_of(selection.quality_score_lr(docs))
    # pure per-row scoring projection: no Exchange anywhere
    assert "Exchange" not in plan and "pythonUDF" not in plan.lower()


def test_domain_mixture_corpus_never_shuffles(spark):
    from nsdb_spark.operators import selection

    docs = testdata.table(spark, SF_DIR, "documents")
    plan = plan_of(selection.domain_mixture(docs, alpha=0.5))
    # the corpus joins the #sources-row rate table via broadcast; the only
    # exchanges in the plan belong to the tiny per-source aggregate
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dsir_scoring_join_is_broadcast(spark, finished_plans):
    from pyspark.sql import functions as F

    from nsdb_spark.operators import selection

    docs = testdata.table(spark, SF_DIR, "documents")
    selection.dsir_weights(docs, F.col("lang") == "en")
    (plan,) = finished_plans
    # the fixed buckets-row LM ratio table broadcasts into the token
    # stream; the only SortMergeJoin-free wide op is the doc_id groupBy
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_nearest_join_no_nested_loop(spark):
    """nearest_join must ride the two as-of union-tag shuffles — a
    |l_ts - r_ts| formulation would plan a BroadcastNestedLoopJoin
    (O(n*m) comparisons)."""
    from pyspark.sql import functions as F

    from nsdb_spark.operators import temporal_join

    ev = testdata.table(spark, SF_DIR, "events")
    left = ev.select(testdata.ts_ms(ev).alias("ts_ms"), "event_id", "user_id")
    orders = testdata.table(spark, SF_DIR, "orders").select(
        "o_custkey",
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 1000").alias("ots"),
        "o_orderkey",
    )
    plan = plan_of(
        temporal_join.nearest_join(
            left, orders, on=("user_id", "o_custkey"), ts=("ts_ms", "ots"),
            payload=["o_orderkey"], tie_break="o_orderkey", tolerance=1000,
        )
    )
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_ks_two_phase_no_global_window(spark):
    """The KS cumulative must come from the range-partitioned two-phase
    scan: the only single-partition exchange allowed is the final 1-row
    max aggregate, never a data-sized global window sort."""
    from nsdb_spark.operators import analytics

    ev = testdata.table(spark, SF_DIR, "events")
    out = analytics.ks_two_sample(ev, "value", "event_type", "click", "view")
    plan = plan_of(out)
    # post-checkpoint plan: pid-partitioned window + broadcast offsets +
    # the tiny final agg; a global (unpartitioned) ordered window would
    # show a sort-based Window over Exchange SinglePartition feeding it
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_changepoint_single_key_exchange(spark):
    """All four window aggregates (per-key count/sum, row_number, the
    running sum) must ride ONE hash exchange on the key — the anchored
    window-ordering discipline of seasonal_adjust — and the final argmax
    is a partial/final aggregate, not another sort."""
    from nsdb_spark.operators import tsa

    ev = testdata.events_metric(spark, SF_DIR)
    plan = plan_of(tsa.changepoint_single(ev))
    # one exchange for the windows + one for the (key, n) argmax agg
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Exchange SinglePartition" not in plan


def test_gini_no_global_sort(spark):
    """The per-group rank machinery must stay range-partitioned: no
    single-partition exchange anywhere (the naive per-group row_number
    plan would sort each group in one task)."""
    from nsdb_spark.operators import analytics

    orders = testdata.table(spark, SF_DIR, "orders")
    out = analytics.gini_by_group(
        orders, "o_orderpriority", "o_totalprice"
    )
    plan = plan_of(out)
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan  # offsets join back broadcast


def test_pareto_share_no_global_sort(spark):
    """The concentration rank + running sum must ride the two-phase
    range-partitioned scan (the stats_gini / _fdr_ranked shape): the only
    single-partition exchange allowed is the final 1-row cutoff
    aggregate, never a data-sized global window sort over the per-key
    counts frame (keys = users = billions at 100 TB)."""
    from nsdb_spark.operators import analytics

    ev = testdata.table(spark, SF_DIR, "events")
    plan = plan_of(analytics.pareto_share(ev))
    assert plan.count("Exchange SinglePartition") <= 1
    assert "BroadcastHashJoin" in plan  # offsets join back broadcast


def test_spearman_no_global_window(spark):
    """Both midrank frames must come from the range-partitioned two-phase
    scan (the KS discipline): offsets join back broadcast, and the only
    single-partition exchange is the final 1-row aggregate."""
    from nsdb_spark.operators import analytics

    li = testdata.table(spark, SF_DIR, "lineitem")
    out = analytics.spearman_corr(li, "l_quantity", "l_extendedprice")
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_midrank_pct_no_global_sort(spark):
    """Population percentile ranks must never pay a global-sort window:
    rank table joins back on the value; no single-partition exchange."""
    from nsdb_spark.operators import analytics
    from pyspark.sql import functions as F

    counts = (
        testdata.table(spark, SF_DIR, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    plan = plan_of(analytics.midrank_pct(counts, "o_custkey", "n_orders"))
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan


def test_periodogram_single_shuffle(spark):
    """The six sufficient sums must ride ONE map-side-combinable
    aggregate: one hash exchange on (key, period), the lag frame enters
    broadcast, and nothing sorts globally."""
    from nsdb_spark.operators import tsa

    ev = testdata.events_metric(spark, SF_DIR)
    plan = plan_of(tsa.periodogram(ev, key="event_type", ts="timestamp"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_crosscorr_no_global_sort(spark):
    """Bucket series align via broadcast lag fan-out + hash join on the
    bucket; the final per-lag aggregate is tiny. No single-partition
    exchange before the closing 11-row sort."""
    from nsdb_spark.operators import tsa

    ev = testdata.events_metric(spark, SF_DIR)
    out = tsa.cross_correlation(
        ev, key_a="view", key_b="purchase", key="event_type",
        ts="timestamp", value="value", bucket_ms=3_600_000, max_lag=5,
    )
    plan = plan_of(out)
    # the closing orderBy of 11 rows may plan as a single-partition sort;
    # nothing DATA-sized may: allow at most that one
    assert plan.count("Exchange SinglePartition") <= 1


def test_wasserstein_no_global_window(spark):
    """The W1 gap lookup must stay inside the range partitions: lead()
    is pid-partitioned, boundary mins join back broadcast, and the only
    single-partition exchange is the final 1-row sum."""
    from nsdb_spark.operators import analytics

    ev = testdata.table(spark, SF_DIR, "events")
    out = analytics.wasserstein_1d(
        ev, "value", "event_type", "click", "view"
    )
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_kaplan_meier_no_global_window(spark):
    """Both running sums (pooled counts and the log-survival product)
    must ride the pid-partitioned windows with broadcast offsets — the
    per-subject lag window is the only hash exchange family; no
    data-sized single-partition sort anywhere."""
    from nsdb_spark.operators import analytics

    orders = testdata.table(spark, SF_DIR, "orders")
    out = analytics.kaplan_meier(orders, "o_custkey", "o_orderdate")
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan


def test_hamming_topk_single_scan_no_shuffle(spark):
    """The sign-bit sketch ranking is one narrow projection over the
    scan feeding TakeOrdered — no exchange of the embedding table at
    all (the whole point of the sketch path)."""
    from nsdb_spark.operators import similarity

    emb = testdata.table(spark, SF_DIR, "embeddings")
    q = [float(i % 7 - 3) for i in range(64)]
    plan = plan_of(similarity.hamming_topk_signbits(emb, q, k=10))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan


def test_pps_systematic_two_phase_scan(spark):
    """The size prefix must come from the pack_sequences two-phase scan:
    range partition + local window + broadcast offsets; no global
    ordered window (post-checkpoint the range exchange is truncated,
    so assert the absence of the single-partition sort instead)."""
    from nsdb_spark.operators import sampling
    from pyspark.sql import functions as F

    docs = testdata.table(spark, SF_DIR, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("tok"),
    )
    out = sampling.pps_systematic(docs, "doc_id", "tok", n=50)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan


def test_kcore_round_plan_is_bounded(spark):
    """Each peel round joins the (checkpointed) shrinking edge set to
    the alive set twice — semi joins on the endpoint keys — and the
    plan depth stays one-round-deep behind the checkpoint: no
    single-partition exchange, no nested-loop join."""
    from nsdb_spark.operators import graph
    from pyspark.sql import functions as F

    li = testdata.table(spark, SF_DIR, "lineitem")
    orders = testdata.table(spark, SF_DIR, "orders")
    edges = li.join(
        orders.select("o_orderkey", "o_custkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
    )
    out = graph.kcore_peel(edges, k=8, rounds=2)
    plan = plan_of(out)
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_session_paths_single_key_exchange(spark):
    """Boundary lag, running sum, and the per-session collect all ride
    the ONE hash exchange on the user key; the closing top-k is a
    TakeOrdered over the distinct-path frame."""
    from nsdb_spark.operators import temporal_join

    ev = testdata.events_metric(spark, SF_DIR).select(
        "user_id", "timestamp", "event_id", "event_type"
    )
    plan = plan_of(temporal_join.session_paths(
        ev, key="user_id", ts="timestamp", gap_ms=14_400_000,
        order_tie="event_id", label="event_type", k=20,
    ))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_kruskal_no_global_window(spark):
    """Midranks come from the range-partition scan (KS discipline);
    the only single-partition exchange is the closing 1-row aggregate."""
    from nsdb_spark.operators import analytics

    ev = testdata.table(spark, SF_DIR, "events")
    plan = plan_of(analytics.kruskal_wallis(ev, "value", "event_type"))
    assert "BroadcastHashJoin" in plan
    # two 1-row reductions plan as SinglePartition (the closing H
    # aggregate and the tie-mass sum) — both consume P partial rows,
    # never data-sized input; anything beyond those two would be a
    # global sort creeping in
    assert plan.count("Exchange SinglePartition") <= 2


def test_latest_percentile_single_exchange(spark):
    """The unordered-window last value and the conditional percentile
    aggregate share ONE hash exchange on the key — no self-join."""
    from nsdb_spark.operators import analytics

    ev = testdata.events_metric(spark, SF_DIR)
    plan = plan_of(analytics.latest_percentile(
        ev, "user_id", "timestamp", "value", "event_id"
    ))
    assert "Exchange SinglePartition" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_band_join_is_hash_equi_join(spark):
    """The bucketed band rewrite must plan as a hash equi-join on the
    bucket key with a codegen residual filter — never a nested-loop
    theta join."""
    from nsdb_spark.operators import joins

    orders = testdata.table(spark, SF_DIR, "orders")
    plan = plan_of(joins.band_self_count(
        orders, "o_orderkey", "o_totalprice", delta=100.0
    ))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_time_split_is_pure_projection(spark):
    """The embargoed split is scan + filter + projection: no exchange
    of any kind (assignment is a total function of the row's own ts)."""
    from nsdb_spark.operators import sampling

    ev = testdata.events_metric(spark, SF_DIR).select(
        "event_id", "timestamp"
    )
    plan = plan_of(sampling.time_split_embargo(
        ev, "event_id", "timestamp", split_ms=1_705_363_200_000,
        embargo_ms=604_800_000,
    ))
    assert "Exchange" not in plan


def test_pii_scrub_map_only_no_exchange(spark):
    """pii_scrub is scan + regexp projection: zero shuffles, and the
    scan prunes to (doc_id, text)."""
    from nsdb_spark.operators import text

    docs = testdata.table(spark, SF_DIR, "documents")
    plan = plan_of(text.pii_scrub(docs))
    assert "Exchange" not in plan
    scan = plan.split("FileScan", 1)[1]
    assert "lang" not in scan.split("ReadSchema")[0]


def test_readability_map_only_no_exchange(spark):
    from nsdb_spark.operators import text

    plan = plan_of(text.readability(testdata.table(spark, SF_DIR, "documents")))
    assert "Exchange" not in plan


def test_gk_gamma_pairs_only_on_cells(spark):
    """The concordance census self-joins the CELLS aggregate, never the
    raw rows: both join inputs must sit above a partial/final aggregate
    pair, and the plan has no nested-loop row join."""
    from pyspark.sql import functions as F
    from nsdb_spark.operators import analytics

    ev = testdata.events_metric(spark, SF_DIR)
    df = analytics.gk_gamma(
        ev,
        x=F.expr("(timestamp div 3600000) % 24").cast("long"),
        y=F.floor(F.col("value") / 100).cast("long"),
    )
    plan = plan_of(df)
    # the inequality pair join runs on the bounded CELLS frame, so it
    # must be broadcast-shaped — a SortMergeJoin here would mean the
    # census shuffles row-grain data
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # and the cells collapse (HashAggregate over the bucketed keys)
    # exists below the joins
    assert "HashAggregate" in plan


def test_katz_round_plan_is_bounded(spark):
    """Each Katz round ends in an eager localCheckpoint, so the FINAL
    plan is one join + aggregate over the checkpointed scores — plan
    depth must not grow with iters (the pagerank discipline)."""
    from pyspark.sql import functions as F
    from nsdb_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], "src string, dst string"
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "node string")
    p2 = plan_of(graph.katz_centrality(edges, nodes, iters=2))
    p6 = plan_of(graph.katz_centrality(edges, nodes, iters=6))
    assert abs(len(p6.splitlines()) - len(p2.splitlines())) <= 2


def test_pref_attachment_pairs_are_broadcast(spark):
    """The top_n×top_n candidate join must be a broadcast join (both
    sides are limit-bounded), never a shuffle of the full edge set for
    the pair step."""
    from nsdb_spark.operators import graph

    from pyspark.sql import functions as F

    li = testdata.table(spark, SF_DIR, "lineitem")
    orders = testdata.table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey"
    )
    edges = li.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).selectExpr("l_suppkey as src", "o_custkey as dst")
    plan = plan_of(graph.preferential_attachment(edges, top_n=10, k=5))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_profiling_fk_orphans_prunes_to_key_columns(spark):
    """The FK audit must ship ONLY the key columns through its scans —
    a wide child table read for a single-key integrity check is wrong at
    100 TB."""
    from nsdb_spark.operators import profiling

    spark.catalog.clearCache()
    child = testdata.table(spark, SF_DIR, "lineitem")
    parent = testdata.table(spark, SF_DIR, "orders")
    df = profiling.fk_orphans(
        [("li->o", child, "l_orderkey", parent, "o_orderkey")]
    )
    plan = plan_of(df)
    # every lineitem scan reads just the FK column; orders just the PK
    import re
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = m.group(1)
        assert cols in ("l_orderkey:bigint", "o_orderkey:bigint"), cols


def test_profiling_weekly_drift_single_scan_shared(spark):
    """weekly_drift materializes the bounded (week, bin) partials ONCE
    (one scan during build) and derives all four downstream branches from
    the local frame — the returned plan must contain NO FileScan of the
    raw table (a lazy lineage would re-scan it once per branch)."""
    from nsdb_spark.operators import profiling

    spark.catalog.clearCache()
    df = profiling.weekly_drift(testdata.table(spark, SF_DIR, "events"))
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 0, plan[:800]
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan


def test_fdr_bh_no_global_rank_window(spark):
    """The BH rank must ride the two-phase range-partitioned scan (the
    KS discipline): NULL-flagged range partitions + local row_number +
    broadcast rank offsets. The only single-partition exchange allowed
    is the 1-row kmax aggregate — never a hypothesis-count-sized global
    sort window (VERDICT r6 'What's wrong' #1)."""
    from nsdb_spark.operators import analytics

    ev = testdata.events_metric(spark, SF_DIR)
    for fn in (analytics.fdr_bh, analytics.fdr_by):
        out = fn(ev, "value", "event_type", q=0.10)
        plan = plan_of(out)
        assert "BroadcastHashJoin" in plan  # offsets join back broadcast
        assert plan.count("Exchange SinglePartition") <= 1, fn.__name__


def test_point_serve_sql_route_keeps_partition_pruning(sharded_engine):
    """The parameterized-SQL point serve folds the shard conjunct into
    the statement text — Catalyst must still turn it into PARTITION
    pruning on the serving view's parquet relation (shard_start is the
    partition column), and the interpreted session must show no
    WholeStageCodegen span. The pruning property is the engine's
    location-filtering analogue and must not regress when the route
    changed from Column pre_filter to SQL text."""
    df = sharded_engine.execute(
        "select * from planm where timestamp in (42000, 58000) limit 50"
    )
    assert df.sparkSession is sharded_engine._serving_session()
    assert "nsdb_pt_" in df._jdf.queryExecution().analyzed().toString()
    plan = plan_of(df)
    assert "WholeStageCodegen" not in plan
    i = plan.find("PartitionFilters")
    assert i >= 0
    assert "shard_start" in plan[i : i + 120]
    assert sorted(r[0] for r in df.collect()) == [45000, 50000, 55000]


def test_unordered_point_read_runs_no_spark_job(sharded_engine):
    """A novel plain `... LIMIT k` read with no ORDER BY, pruned to 3 of
    planm's 10 shards, is read from the shard files with pyarrow: no
    Spark job. LIMIT 3 of its 6 matches returns 3 of them, in shard
    order; LIMIT 10 returns all 6."""
    sql = "select * from planm where timestamp >= 40000 and timestamp < 70000 limit {}"
    jobs, rows = _jobs_of(sharded_engine, sql.format(3))
    assert (jobs, [r.timestamp for r in rows]) == (0, [40000, 45000, 50000])
    jobs, rows = _jobs_of(sharded_engine, sql.format(10))
    assert jobs == 0
    assert sorted(r.timestamp for r in rows) == list(range(40000, 70000, 5000))


def test_ordered_point_read_plans_on_the_serving_session(sharded_engine):
    """The ORDER BY twin of an unordered point read keeps the Spark route:
    it plans on the interpreted serving session and runs a job."""
    sql = (
        "select * from planm where timestamp >= 40000 and timestamp < 70000 "
        "order by timestamp desc limit 3"
    )
    assert sharded_engine.execute(sql).sparkSession is sharded_engine._serving_session()
    jobs, rows = _jobs_of(sharded_engine, sql)
    assert jobs >= 1
    assert [r.timestamp for r in rows] == [65000, 60000, 55000]


def test_embedding_cosine_score_stays_out_of_join_condition(spark, finished_plans):
    """The threshold filter must NOT fold into the pair join's
    condition: there the 64-term dot product runs on the interpreted
    predicate path for every candidate pair, ahead of the cheap id cut
    (measured 396 task-seconds vs ~1 at sf0.1, round 8). The rand-based
    pushdown barrier keeps the scoring in a Project ABOVE the join, so
    the join condition may reference only the id columns. The plan is
    read before the result is materialized (finished_plans)."""
    from nsdb_spark.operators import dedup

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 2.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    dedup.embedding_cosine_pairs(emb, threshold=0.9)
    (plan,) = finished_plans
    join_line = next(
        ln for ln in plan.splitlines() if "NestedLoopJoin" in ln or "CartesianProduct" in ln
    )
    assert "vec_id" in join_line
    # the dot product (element access + round) must not appear in the join
    assert "round(" not in join_line
    assert "[0]" not in join_line


def test_containment_pair_join_evaluated_once(spark, finished_plans):
    """Both containment directions must come from ONE evaluation of the
    sized pair frame (a 2-row explode), not a union of two projections
    that duplicates the whole pair-join subtree (round 8: 51 -> 29 jobs,
    1081 -> 543 tasks at sf0.1)."""
    from nsdb_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w q r")],
        "doc_id long, text string",
    )
    dedup.containment_pairs(docs, n=3, threshold=0.1)
    (plan,) = finished_plans
    # one Generate for the direction explode; exactly one pair self-join
    # + two count joins => join-node count must be 3, not 6
    n_joins = sum(
        ln.lstrip().lstrip("+-: *(0123456789)").startswith(
            ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        )
        for ln in plan.splitlines()
    )
    assert n_joins == 3, f"expected 3 join nodes, saw {n_joins}"
    rows = {
        (r["doc_inner"], r["doc_outer"])
        for r in dedup.containment_pairs(docs, n=3, threshold=0.1).collect()
    }
    assert (1, 2) in rows and (2, 1) in rows  # both directions emitted


def test_wedge_expansion_repartition_survives_aqe(spark):
    """adamic_adar / common_neighbor_similarity repartition on the
    shared-neighbor key with an explicit REPARTITION_BY_NUM exchange —
    exempt from AQE's input-byte coalescing, which otherwise serializes
    the degree-squared pair expansion onto a handful of tasks."""
    from nsdb_spark.operators import graph

    edges = spark.createDataFrame(
        [(i % 7, i % 5) for i in range(50)], "src long, dst long"
    )
    assert "REPARTITION_BY_NUM" in plan_of(graph.adamic_adar(edges))
    assert "REPARTITION_BY_NUM" in plan_of(
        graph.common_neighbor_similarity(edges)
    )


def _round_graph(spark):
    """55 nodes and 100 distinct directed edges, seeded."""
    rng = random.Random(7)
    pairs = set()
    while len(pairs) < 100:
        a, b = rng.randrange(55), rng.randrange(55)
        if a != b:
            pairs.add((a, b))
    return (
        spark.createDataFrame(sorted(pairs), "src long, dst long"),
        spark.createDataFrame([(i,) for i in range(55)], "node long"),
    )


#: Spark jobs per round, (jobs at 4 rounds - jobs at 2 rounds) / 2, on
#: `_round_graph` before the operators moved onto the round driver
#: (local[4], 8 shuffle partitions, AQE on; each AQE shuffle stage is a
#: job). The driver may not add work to a round.
_JOBS_PER_ROUND = {
    "pagerank": 9, "label_propagation": 6, "hits_scores": 13,
    "kcore_peel": 6, "bfs_hops": 5, "katz_centrality": 5, "bpe_train": 2,
}


@pytest.mark.parametrize("name", sorted(_JOBS_PER_ROUND))
def test_iterative_operator_jobs_per_round(spark, name):
    from nsdb_spark.operators import bpe, graph

    edges, nodes = _round_graph(spark)
    words = spark.createDataFrame(
        [("low lower lowest newer newest wider",), ("new newer low widest wide",)] * 3,
        "text string",
    )
    run = {
        "pagerank": lambda k: graph.pagerank(edges, nodes, iters=k),
        "label_propagation": lambda k: graph.label_propagation(edges, nodes, iters=k),
        "hits_scores": lambda k: graph.hits_scores(edges, iters=k),
        "kcore_peel": lambda k: graph.kcore_peel(edges, k=3, rounds=k),
        "bfs_hops": lambda k: graph.bfs_hops(edges, 0, rounds=k),
        "katz_centrality": lambda k: graph.katz_centrality(edges, nodes, iters=k),
        "bpe_train": lambda k: bpe.bpe_train(words, num_merges=k)[1],
    }[name]
    two, _ = _jobs_during(spark, lambda: run(2).collect())
    four, _ = _jobs_during(spark, lambda: run(4).collect())
    assert (four - two) / 2 <= _JOBS_PER_ROUND[name]


#: total Spark jobs of one call on a 20-pair graph of ten 3-node chains
#: before the round driver (same session settings as above)
_CC_JOBS = {"connected_components": 22, "connected_components_alternating": 26}


@pytest.mark.parametrize("name", sorted(_CC_JOBS))
def test_connected_components_jobs(spark, name):
    from nsdb_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(4 * c + i, 4 * c + i + 1) for c in range(10) for i in range(2)],
        "doc_a long, doc_b long",
    )
    nodes = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    jobs, rows = _jobs_during(
        spark, lambda: getattr(dedup, name)(pairs, nodes).collect()
    )
    assert {r["cluster_id"] for r in rows if r["doc_id"] % 4 != 3} == set(range(0, 40, 4))
    assert jobs <= _CC_JOBS[name]
