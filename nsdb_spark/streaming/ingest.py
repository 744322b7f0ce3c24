"""Structured Streaming ingestion and streaming query shapes.

Parity model (SURVEY.md §2.8): NSDb ingests through a commit log into an
in-memory buffer flushed every 15 s (nsdb.conf:142) — reads are eventually
consistent, pushes are real-time. Here the same split is:

- `start_parquet_ingestion`: readStream → foreachBatch append into the
  warehouse shard layout; the trigger interval is the visibility knob
  (default 15 s ≡ nsdb.write.scheduler.interval). Each batch is staged,
  validated on the written files and published by rename
  (Warehouse.append_shards); that and the checkpoint dir subsume the
  commit log (exactly-once per batch).
- `stream_filter`: a subscribed *plain* query as a pure streaming filter
  (PublisherActor's per-record match, but evaluated by Spark).
- `stream_temporal_agg`: a subscribed temporal query as a windowed
  aggregation with a watermark; update mode re-emits amended buckets the
  way NSDb re-pushes late-data buckets within the grace period
  (PublisherActor.scala:326-357 behaviour).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..compiler import TimeContext, compile_expression
from ..sql import ast


class CommittedBatchMarker:
    """Replay guard for at-least-once foreachBatch sinks whose effect is
    not idempotent (parquet appends, index appends): a marker file in
    the checkpoint dir records the last fully-applied batch id, so crash
    replays skip batches already applied. The marker goes through the
    Hadoop FileSystem resolved FROM the checkpoint URI — python
    open()/os.replace would silently no-op the guard on hdfs://,
    s3a://, etc. (the normal production checkpoint), turning every
    crash replay into duplicated rows. The residual window is a crash
    BETWEEN the sink effect and commit() (that one batch can duplicate —
    the honest limit of non-transactional parquet; a transactional
    table format removes it)."""

    def __init__(self, spark, checkpoint_dir: str) -> None:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        self._path = jvm.org.apache.hadoop.fs.Path(
            checkpoint_dir + "/_nsdb_committed_batch"
        )
        self._tmp = jvm.org.apache.hadoop.fs.Path(
            checkpoint_dir + "/_nsdb_committed_batch.tmp"
        )
        self._fs = self._path.getFileSystem(hconf)

    def last(self) -> int:
        """The last committed batch id, -1 when no marker exists yet. Any
        other failure (a read error, a garbled marker) raises and fails
        the batch: guessing -1 would re-apply committed batches."""
        if not self._fs.exists(self._path):
            return -1
        st = self._fs.open(self._path)
        try:
            data = bytes(st.readAllBytes())
        finally:
            st.close()
        return int(data.decode().strip())

    def commit(self, batch_id: int) -> None:
        out = self._fs.create(self._tmp, True)
        try:
            out.write(bytearray(str(batch_id).encode()))
        finally:
            out.close()
        # rename-over: Hadoop rename won't clobber on some FSes — delete
        # the old marker first; a crash here replays at most one batch
        self._fs.delete(self._path, False)
        self._fs.rename(self._tmp, self._path)


def start_parquet_ingestion(
    engine,
    db: str,
    ns: str,
    metric: str,
    stream_df: DataFrame,
    checkpoint_dir: str,
    trigger_seconds: int = 15,
    subscription_manager=None,
    available_now: bool = False,
) -> StreamingQuery:
    """Append a stream of metric rows (timestamp BIGINT ms, value, flat
    dims/tags) into the warehouse; optionally tap each batch into a
    SubscriptionManager (the real-time push path).

    Each micro-batch goes through `engine.insert_frame` — the SAME write
    path as the bulk loader — so streaming writes get the full engine
    contract, not a side door: schema union-merge (new fields grow the
    registry, type conflicts reject the batch), retention rejection, the
    shard-partitioned timestamp-sorted layout, and incremental rollup
    maintenance (a registered rollup stays fresh under streaming ingest
    instead of silently serving stale buckets). A batch costs one Spark
    write: it is staged, checked on the written files and published by
    rename, so a rejected batch leaves no rows and no registered fields.

    Delivery: foreachBatch is at-least-once on crash, and a parquet
    append is not idempotent — replays are skipped via
    CommittedBatchMarker (see its docstring for the guarantees)."""
    marker = CommittedBatchMarker(engine.spark, checkpoint_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= marker.last():
            return  # replayed batch already inserted — skip, don't duplicate
        # Publish tap: never funnel the whole batch through the driver.
        # The union of the registered subscriptions' predicates runs as a
        # distributed filter; only matching rows are collected (a superset
        # each subscription then narrows in-process). A full collect
        # happens only when some subscription genuinely needs every row.
        rows = None
        if subscription_manager is not None:
            pred = subscription_manager.batch_predicate(
                db, ns, metric, batch_df.columns
            )
            if pred is True:
                rows = batch_df.collect()
            elif pred is not None:
                rows = batch_df.filter(pred).collect()
        engine.insert_frame(db, ns, metric, batch_df)
        marker.commit(batch_id)
        if subscription_manager and rows:
            subscription_manager.publish(db, ns, metric, [r.asDict() for r in rows])

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def stream_filter(
    stream_df: DataFrame, condition: ast.Expression, ctx: TimeContext
) -> DataFrame:
    """Plain-query subscription: push-down filter on the live stream."""
    return stream_df.filter(compile_expression(condition, ctx))


def stream_session_agg(
    stream_df: DataFrame,
    gap_ms: int,
    watermark_ms: int,
    key: str | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Streaming sessionization: dynamic-gap session windows over event
    time (the streaming twin of operators/temporal_join.sessionize).
    Sessions close after `gap_ms` of silence per key; the watermark bounds
    how long an open session waits for stragglers.

    Run append-mode: a session row is emitted once, when the watermark
    passes its end (Spark does not support update mode for streaming
    session windows). State per open session is the running aggregate,
    not raw rows — NSDb has no session concept at all (tumbling only,
    SURVEY.md §2.6); this is a Spark-native extension.
    """
    df = stream_df.withColumn(
        "__evt", F.timestamp_millis(F.col("timestamp"))
    ).withWatermark("__evt", f"{watermark_ms / 1000.0} seconds")
    win = F.session_window(F.col("__evt"), f"{gap_ms / 1000.0} seconds")
    keys = [win.alias("__w")] + ([F.col(key)] if key else [])
    out_keys = ([key] if key else []) + [
        F.unix_millis(F.col("__w.start")).alias("session_start"),
        F.unix_millis(F.col("__w.end")).alias("session_end"),
    ]
    return (
        df.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(*out_keys, "n_events", "sum_value")
    )


def stream_sliding_agg(
    stream_df: DataFrame,
    window_ms: int,
    slide_ms: int,
    watermark_ms: int,
    value_col: str = "value",
) -> DataFrame:
    """Sliding-window aggregation (window > slide ⇒ each event lands in
    window/slide buckets) — the smoothed-dashboard variant of the tumbling
    subscription. Emits (lower_bound, upper_bound, count_value,
    avg_value)."""
    df = stream_df.withColumn(
        "__evt", F.timestamp_millis(F.col("timestamp"))
    ).withWatermark("__evt", f"{watermark_ms / 1000.0} seconds")
    win = F.window(
        F.col("__evt"), f"{window_ms / 1000.0} seconds", f"{slide_ms / 1000.0} seconds"
    )
    return (
        df.groupBy(win.alias("__w"))
        .agg(F.count(F.lit(1)).alias("count_value"), F.avg(value_col).alias("avg_value"))
        .select(
            F.unix_millis(F.col("__w.start")).alias("lower_bound"),
            F.unix_millis(F.col("__w.end")).alias("upper_bound"),
            "count_value",
            "avg_value",
        )
    )


def stream_dedup(
    stream_df: DataFrame,
    key_cols: list[str],
    watermark_ms: int,
    ts_col: str = "timestamp",
) -> DataFrame:
    """Streaming exact deduplication: emit ONE event per key, dropping
    duplicates that arrive within `watermark_ms` of it. The survivor is
    the first occurrence in processing order (not event-time order —
    within a micro-batch task scheduling decides; pre-aggregate with
    min_by upstream if earliest-event-wins matters).

    Built on dropDuplicatesWithinWatermark, so dedup state is BOUNDED: a
    key's entry is evicted once the watermark passes its event time plus
    the delay, meaning state size tracks the duplicate-arrival horizon,
    not the full key history — the property that keeps this viable on an
    unbounded 100 TB/day ingest stream (a plain dropDuplicates would
    accumulate every key ever seen). Duplicates separated by more than
    the horizon are NOT caught here; the batch dedup operators
    (operators/dedup.py) own cross-horizon dedup in compaction.

    The event-time column rides along as a millisecond timestamp; output
    schema is the input schema (append mode)."""
    df = stream_df.withColumn(
        "__evt", F.timestamp_millis(F.col(ts_col))
    ).withWatermark("__evt", f"{watermark_ms / 1000.0} seconds")
    return df.dropDuplicatesWithinWatermark(key_cols).drop("__evt")


def stream_enrich(stream_df: DataFrame, dim_df: DataFrame, on: str) -> DataFrame:
    """Stream-static dimension enrichment: broadcast the static side so
    each micro-batch joins map-side with no shuffle — the standard shape
    for attaching dimension attributes at ingest before the subscription
    filter runs. The static side is re-read per batch, so a slowly
    changing dimension table picks up updates between batches."""
    return stream_df.join(F.broadcast(dim_df), on, "left")


def stream_temporal_agg(
    stream_df: DataFrame,
    interval_ms: int,
    aggregation: ast.Aggregation,
    anchor_ms: int,
    grace_period_ms: int | None = None,
) -> DataFrame:
    """Temporal-query subscription: tumbling windows anchored like NSDb's
    scheduler (buckets start at subscription time, SURVEY.md §2.8) with a
    watermark = grace period for late-data re-emission.

    Run with outputMode("update") so amended buckets are re-pushed, the
    Spark analogue of NSDb's late-bucket re-push.
    """
    alias = f"{aggregation.kind}_{aggregation.target}"
    secs = interval_ms / 1000.0
    evt = F.timestamp_millis(F.col("timestamp")).alias("__evt")
    df = stream_df.withColumn("__evt", evt)
    # ALWAYS watermark: without one, update-mode window state is never
    # evicted and grows for the stream's lifetime. No grace clause means
    # NSDb drops late data outright — a 0-second watermark is exactly
    # that semantics with bounded state.
    delay_ms = grace_period_ms if grace_period_ms is not None else 0
    df = df.withWatermark("__evt", f"{delay_ms / 1000.0} seconds")
    win = F.window(
        F.col("__evt"),
        f"{secs} seconds",
        startTime=f"{(anchor_ms % interval_ms) / 1000.0} seconds",
    )
    agg_fn = {
        ast.AGG_COUNT: F.count(aggregation.target),
        ast.AGG_COUNT_DISTINCT: F.approx_count_distinct(aggregation.target),
        ast.AGG_SUM: F.sum(aggregation.target),
        ast.AGG_MIN: F.min(aggregation.target),
        ast.AGG_MAX: F.max(aggregation.target),
        ast.AGG_AVG: F.avg(aggregation.target),
    }[aggregation.kind]
    return (
        df.groupBy(win.alias("__w"))
        .agg(agg_fn.alias(alias))
        .select(
            F.unix_millis(F.col("__w.start")).alias("lower_bound"),
            F.unix_millis(F.col("__w.end")).alias("upper_bound"),
            F.col(alias),
        )
    )


def stream_stream_join(
    left_df: DataFrame,
    right_df: DataFrame,
    on: str,
    ts_cols: tuple[str, str],
    window_ms: int,
    watermark_ms: int,
    how: str = "inner",
) -> DataFrame:
    """Event-time stream-stream inner join: left events matched to right
    events with the same key whose time falls in [l_ts, l_ts + window)
    — the impression⋈click attribution shape, the one join class the
    batch operators (asof/window/interval join) cannot serve because
    BOTH sides are unbounded.

    State-bound correctness comes from the two watermarks PLUS the
    time-range join condition: Spark derives how long each side's rows
    can still match and evicts state beyond watermark + window (without
    the range condition the state store would grow forever — an
    unbounded-state stream-stream join never ships to production).
    Equality on the key keeps the join a hash exchange co-partitioned by
    key, exactly like the batch union-tag operators.

    how="leftOuter" additionally emits each unmatched left row (right
    columns NULL) — but only once the watermark proves no match can
    still arrive, so un-clicked impressions surface with watermark
    latency, not immediately.
    """
    lts, rts = ts_cols
    left = left_df.withColumn(
        "__lt", F.timestamp_millis(F.col(lts))
    ).withWatermark("__lt", f"{watermark_ms / 1000.0} seconds")
    right = right_df.withColumn(
        "__rt", F.timestamp_millis(F.col(rts))
    ).withWatermark("__rt", f"{watermark_ms / 1000.0} seconds")
    cond = (
        (left[on] == right[on])
        & (right["__rt"] >= left["__lt"])
        & (
            right["__rt"]
            < left["__lt"] + F.expr(f"INTERVAL {int(window_ms)} MILLISECONDS")
        )
    )
    # drop the right-side key too: both sides' `on` survive a Column-
    # condition join, making the output key ambiguous to select/groupBy
    # (and NULL on the right copy for unmatched leftOuter rows)
    return left.join(right, cond, how).drop(right[on]).drop("__lt", "__rt")
