"""NsdbEngine — the single entry point: parse → analyze → compile → run.

Query lifecycle parity (SURVEY.md §3.1): our pipeline is
  parse (sql/parser) → AST → analyze (analyzer) → compile (compiler) →
  Catalyst optimizes → executors scan parquet.
Partition pruning on `shard_start` replaces NSDb's location filtering;
HashAggregate partial/final replaces the shard/node reduce tree.
"""
from __future__ import annotations

import dataclasses
import functools
import hashlib
import logging
import os
import threading
import time
from typing import Any, NamedTuple

import pyarrow.dataset as pads
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from . import analyzer
from .cache import TokenCache
from .catalog import MetricNotFound, RollupSpec, Warehouse, footer_stats
from .compiler import (
    _BROADCAST_BUCKETS_MAX,
    QueryCompiler,
    TimeContext,
    aggregate_columns,
    arrow_aggregate,
    arrow_expression,
    bucket_count,
    extract_time_range,
    projection,
    serving_sql,
    shard_ranges,
    temporal_axis,
    touched_shards,
)
from .model import (
    Bit,
    MetricSchema,
    SchemaError,
    SHARD_COL,
    shard_start,
)
from .sources.parquet import read_parquet
from .sql import ast
from .sql.parser import parse

_log = logging.getLogger(__name__)


class RetentionError(Exception):
    """Bit outside the retention window rejected at write
    (MetadataCoordinator.scala:485-489 parity)."""


class _Planned(NamedTuple):
    """A plan-cache entry."""

    # (DataFrame, analyzed plan, rollup-routed?); DataFrame None when the
    # rows were read from the shard files (collect_select's "files" route)
    plan: tuple
    rows: list | None = None  # the collected result, at most _CACHED_ROWS_MAX


def _scan_shard_files(
    files: list[str], schema: MetricSchema, columns: list[str], predicate, read
):
    """read(scanner) over the shard files: a pyarrow scanner of `columns`
    under the registry schema (a field an older file lacks reads as NULL),
    filtered on the pyarrow `predicate` (None: every row). The scanner
    skips every row group whose statistics rule the predicate out (a
    shard file is timestamp-sorted in row groups of at most
    NsdbEngine._SHARD_ROW_GROUP_ROWS rows, so a narrow time range decodes
    about one group), and decodes only the projected and filtered columns
    of the groups it keeps. A file removed after the
    listing is skipped, as ignoreMissingFiles skips it on the Spark route:
    `read` then runs again over the files that are left."""
    while True:
        try:
            return read(
                pads.dataset(files, schema=schema.to_arrow_schema(), format="parquet")
                .scanner(columns=sorted(set(columns)), filter=predicate)
            )
        except FileNotFoundError:
            kept = [f for f in files if os.path.exists(f)]
            if len(kept) == len(files):
                raise
            files = kept


def _rows(columns: list[str], tuples) -> list:
    """Tuples as the Rows Spark's collect returns, fields `columns`."""
    rows = [Row(*values) for values in tuples]
    for r in rows:
        r.__fields__ = columns
    return rows


class _Read(NamedTuple):
    """A SELECT's route and what it reads, decided once (NsdbEngine._route)
    after the cache token is read: collect_select reads the shard files or
    plans with it, explain_select reports it."""

    schema: MetricSchema
    parsed: Any
    ctx: TimeContext
    locations: list[int]
    shard_interval: int
    ivs: list  # the WHERE-implied time intervals
    spec: RollupSpec | None  # the rollup that serves it (_rollup_route)
    serving: bool  # _point_route's answer
    route: str  # "rollup", "files", "serving" or "analytics"
    # the touched shards' files in shard order and the WHERE as a pyarrow
    # expression (None without one); on the "files" route only
    files: list[str] | None = None
    predicate: Any = None


def _serving_view(db: str, ns: str, metric: str) -> str:
    """Name of a metric's serving temp view on the point-serving session."""
    return "nsdb_pt_" + hashlib.md5(repr((db, ns, metric)).encode()).hexdigest()[:16]


class NsdbEngine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        now_fn=lambda: int(time.time() * 1000),
        approx_count_distinct: bool = False,
    ):
        self.spark = spark
        self.warehouse = Warehouse(warehouse_dir)
        self.now_fn = now_fn
        # opt-in HLL count-distinct (exact by default — reference parity)
        self.approx_count_distinct = approx_count_distinct
        # statement→plan cache: repeated identical SELECTs (the
        # reference's signature Gatling/gRPC workload shape,
        # LoadSimulation.scala:47) would re-pay parse→analyze→spark.read→
        # compile on every call — ~99 ms/rpc of pure plan build at
        # local[32]. ONE entry per SELECT, keyed on (db, ns, metric,
        # statement fingerprint), so statements that differ only in LIMIT
        # are separate entries; an entry holds the plan, the collected
        # rows (up to _CACHED_ROWS_MAX, see collect_select), or both:
        # storing either keeps the other when it was stored under the
        # same token. Valid only under the _cache_token it
        # was stored with, so any write, delete, drop, restore, retention
        # eviction, or rollup (de)registration invalidates. Time-dependent
        # statements (relative `now`, SINCE grace) bypass — their compiled
        # literals embed the clock.
        self._plans = TokenCache()
        # (db, ns, metric, serving?) -> base metric frame on the analytics
        # session or the point-serving session (a Dataset is bound to the
        # session that analyzed it); storing a serving frame registers it
        # as the metric's serving temp view (see _read_metric_frame)
        self._frames = TokenCache()
        # token[0] is (cache generation, in-process mutation counter of the
        # metric); both written under self._lock, which also guards the lazy
        # serving-session build. invalidate_plan_caches starts a new
        # generation, so a put whose token predates it loses to every later
        # put instead of outranking the restarted counters.
        self._generation = 0
        self._metric_versions: dict[tuple[str, str, str], int] = {}
        self._lock = threading.Lock()
        # SERVING session: a newSession() sharing the SparkContext but
        # with codegen + AQE disabled and one shuffle partition. It is the
        # one Spark route for shard-pruned reads (_point_route): small-LIMIT
        # plain SELECTs and aggregates (tag group-by, global, temporal)
        # whose pruning leaves at most _POINT_SERVE_MAX_SHARDS shards.
        # collect_select reads most of those from the shard files with
        # pyarrow instead, with no Spark job (_route's "files": unordered
        # plain SELECTs and every aggregate no rollup serves); ordered
        # plain SELECTs, mixed plain+aggregate globals and every
        # execute_select plan here.
        # Novel statements (unique literals — no cache can serve them) pay
        # Janino whole-stage compilation per literal on the default
        # session, and an aggregate's shuffle fans out over every core
        # plus AQE re-planning of a sub-MB exchange. A few shards are
        # small enough that interpreted execution in one shuffle
        # partition is cheaper: a point read is a few columnar batches
        # that CollectLimit stops early, and an aggregate runs as ONE
        # Spark job (no broadcast or range-sampling job, see
        # compiler.axis_join). Built lazily.
        self._serving_spark: SparkSession | None = None

    # ------------------------------------------------------ plan-cache plumbing
    def _metric_version(self, db: str, ns: str, metric: str) -> tuple[int, int]:
        # generation first: invalidate_plan_caches clears the counters
        # before it bumps the generation, so a new generation is never
        # paired with a pre-clear counter
        gen = self._generation
        return (gen, self._metric_versions.get((db, ns, metric), 0))

    def _bump_metric_version(self, db: str, ns: str, metric: str) -> None:
        """Any mutation that can change a compiled plan's result: data
        writes/deletes, schema unions, drops, restores, retention
        eviction, rollup materialization/invalidation."""
        key = (db, ns, metric)
        with self._lock:
            self._metric_versions[key] = self._metric_versions.get(key, 0) + 1

    def _cache_token(self, db: str, ns: str, metric: str) -> tuple:
        """Validity token of every entry in the engine's two TokenCaches:
        _plans (plans with their collected rows) and _frames (base metric
        frames and the serving temp views registered with them).

        Coverage, precisely: (a) the in-process version (_metric_version)
        covers EVERY mutation made through this engine; (b) the two
        Warehouse.mtimes marks cover out-of-process changes: schema.json's
        covers schema unions (update_schema rewrites the file on every
        insert, before its rows are published), data/'s covers INSERTS
        (Warehouse.append_shards moves it once the rows are visible) and
        DELETE / DROP / retention eviction / compaction / Z-order (each
        swaps or removes shard_start= child dirs by rename, touching the
        parent). NOT covered: (1) out-of-process
        rollup rebuilds — a cooperating process should call
        invalidate_plan_caches() (or simply restart) afterwards; (2) on
        filesystems with coarse mtime granularity (1 s on classic NFS /
        HFS+), an out-of-process INSERT landing within the same timestamp
        tick as a token read can serve stale cached plans/rows until the
        next tick — deploy multi-writer setups on a filesystem with ns
        mtimes (ext4/XFS/APFS) or route writes through one engine."""
        return (
            self._metric_version(db, ns, metric),
            *self.warehouse.mtimes(db, ns, metric),
        )

    def _cache_slot(self, stmt: ast.SelectSQLStatement) -> tuple:
        """(plan-cache key, token) for a deterministic statement, keyed by
        the frozen-dataclass AST fingerprint; (None, None) when its
        compiled literals embed the clock (relative `now`, SINCE grace)."""
        fp = repr(stmt)
        if stmt.grace_period is not None or "RelativeComparisonValue" in fp:
            return None, None
        db, ns = stmt.db or "default", stmt.namespace or "default"
        return (db, ns, stmt.metric, fp), self._cache_token(db, ns, stmt.metric)

    def invalidate_plan_caches(self) -> None:
        """Drop every cached plan, result set, and base frame — the seam
        for out-of-process changes the mtime-based token cannot observe
        (a rollup rebuilt by another engine)."""
        self._plans.clear()
        self._frames.clear()
        with self._lock:
            self._metric_versions.clear()
            self._generation += 1

    def _serving_session(self) -> SparkSession:
        """The interpreted serving session of point and shard-pruned
        aggregate reads (see __init__ and _point_route). AQE, whole-stage
        codegen, expression codegen and the shuffle partition count are
        per-SESSION SQL confs, so the isolated newSession() flips them for
        serving reads without touching the analytics session's
        behaviour."""
        s = self._serving_spark
        if s is not None:
            return s
        with self._lock:
            if self._serving_spark is None:
                from .session import apply_tuned_sql_confs

                s = self.spark.newSession()
                s.conf.set("spark.sql.codegen.wholeStage", "false")
                s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
                s.conf.set("spark.sql.adaptive.enabled", "false")
                # point plans want the FEWEST tasks, not the most: the
                # default minPartitionNum (= defaultParallelism) splits a
                # tiny shard-pruned scan into one sliver per core, so a
                # filtered `... LIMIT k` pays CollectLimit's partition
                # ramp-up (1, 4, 16... scheduling rounds) — measured
                # WORSE at 32 cores than 8 (r8 scaling block ≈ 0.52).
                # One split per scan is the point-read ideal at any core
                # count; real data-sized scans never route here (the
                # _POINT_SERVE_* gates), and maxPartitionBytes still
                # bounds a split if one ever grows. An aggregate's
                # exchange gets one partition for the same reason: its
                # partials are a few KB, and one partition lets the axis
                # join and the final sort run in the same job.
                s.conf.set("spark.sql.files.minPartitionNum", "1")
                s.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
                s.conf.set("spark.sql.shuffle.partitions", "1")
                # shared library defaults (session.py) — production
                # parity with bench/tools sessions
                apply_tuned_sql_confs(s)
                self._serving_spark = s
            return self._serving_spark

    # ------------------------------------------------------------- write path
    def insert_bits(self, db: str, ns: str, metric: str, bits: list[Bit]) -> int:
        """Validate → stage the shard files → union-merge schema → publish.

        WriteCoordinator.scala:387-441 analogue: schema update then
        accumulate. The rows are staged and published by rename
        (Warehouse.append_shards), which replaces the commit log: a
        failed write leaves neither rows nor registered fields.
        """
        if not bits:
            return 0
        for b in bits:
            if b.timestamp is None or b.value is None:
                raise SchemaError("bit timestamp and value are mandatory")
            if b.timestamp < 0:
                # the read/delete surface derives [0, inf) envelopes
                # (compiler.extract_time_range floors at 0) — a negative
                # epoch would be written but silently unreachable
                raise SchemaError(f"negative timestamp {b.timestamp}")
        info = self.warehouse.get_info(db, ns, metric)
        retention = info["retention"]
        now = self.now_fn()
        if retention:
            for b in bits:
                if b.timestamp < now - retention or b.timestamp > now + retention:
                    raise RetentionError(
                        f"timestamp {b.timestamp} outside retention window"
                    )
        incoming = MetricSchema.infer(bits[0])
        for b in bits[1:]:
            incoming = incoming.union(MetricSchema.infer(b))
        # the local union raises a type conflict before any row is staged;
        # the registry is written only once the rows are (append_shards)
        try:
            schema = self.warehouse.get_schema(db, ns, metric).union(incoming)
        except MetricNotFound:
            schema = incoming

        si = info["shardInterval"]
        struct = schema.to_struct_type(with_shard=True)
        names = schema.all_field_names()
        rows = []
        for b in bits:
            fields = b.fields()
            row = [fields.get(n) for n in names]
            row.append(shard_start(b.timestamp, si))
            rows.append(row)
        df = self.spark.createDataFrame(rows, struct)
        self.warehouse.append_shards(
            db, ns, metric, self._shard_writer(df),
            lambda _files: self.warehouse.update_schema(db, ns, metric, incoming),
        )
        # keep materialized rollups FRESH instead of dropping them: merge
        # this batch's partials in (classic incremental view maintenance);
        # only writes outside a rollup's pinned axis force invalidation
        lo = min(b.timestamp for b in bits)
        hi = max(b.timestamp for b in bits)
        self._maintain_rollups_on_write(db, ns, metric, lo, hi, lambda: df.drop(SHARD_COL))
        return len(bits)

    #: rows per parquet row group in every shard file (not user-settable).
    #: A shard file is sorted on timestamp, so each group covers a
    #: disjoint timestamp span and a narrow range decodes about one group.
    _SHARD_ROW_GROUP_ROWS = 16_384

    @classmethod
    def _shard_parquet(cls, frame: DataFrame):
        """The bound parquet method that writes a laid-out frame
        partitioned by shard, in row groups of at most
        _SHARD_ROW_GROUP_ROWS rows."""
        return (
            frame.write.option("parquet.block.row.count.limit", cls._SHARD_ROW_GROUP_ROWS)
            .partitionBy(SHARD_COL)
            .parquet
        )

    @classmethod
    def _shard_writer(cls, frame: DataFrame):
        """The bound parquet method that writes frame, partitioned by
        shard, as one file per shard with rows sorted on timestamp, in
        row groups of at most _SHARD_ROW_GROUP_ROWS rows. Each group's timestamp
        min/max statistics then skip the groups outside a timestamp range
        (the point-tree role in the reference), on the pyarrow file route
        (the scanner's filter) and on the Spark route (parquet filter
        pushdown) alike. The sort leads with the shard column: a
        partitioned write requires that ordering, and a sort on timestamp
        alone is replaced by one on the shard column only. Every write
        that publishes or rewrites shard files goes through here, except
        optimize_metric_zorder's, which sorts by its own key."""
        return cls._shard_parquet(
            frame.repartition(SHARD_COL).sortWithinPartitions(SHARD_COL, "timestamp")
        )

    def insert_frame(
        self,
        db: str,
        ns: str,
        metric: str,
        df: DataFrame,
        tags: tuple[str, ...] | list[str] = (),
        widen_ints: bool = True,
    ) -> int:
        """Bulk-insert a DataFrame as bits — the distributed write path.

        `insert_bits` is the per-record API (RPCInsert parity,
        WriteCoordinator.scala:387-441); this is its bulk-load complement:
        rows never pass through the driver. The frame must carry
        `timestamp` (integer ms) and a numeric `value`; every other column
        becomes a dimension (or a tag if named in `tags`). Same registry
        semantics as the record path: schema inferred from the frame,
        union-merged, type/class conflicts rejected (Schema.scala:116-129),
        retention enforced (MetadataCoordinator.scala:485-489 — here on
        the written batch's timestamp range instead of per bit).

        widen_ints: map int32 columns to BIGINT (matching the record path,
        where Python ints infer BIGINT); with False, int32 stays INT —
        NSDb's exact-type-match union will then reject mixing the two.

        Scale shape: ONE Spark write stages the batch, repartitioned by
        shard with rows sorted on timestamp inside each (the record path's
        layout), under the metric's staging directory. The checks read
        the staged files' parquet footers; only a rejected batch pays one
        exact-count job, for its error message. A batch that passes
        registers its schema and is published by rename
        (Warehouse.append_shards); rollup maintenance reads back exactly
        the published files, so a non-deterministic source (a CSV dir
        modified mid-call) cannot merge partials for rows never written.
        """
        from .sources.bulk import frame_schema, conform_frame

        if df.isStreaming:
            raise SchemaError("insert_frame takes a batch DataFrame")
        try:
            existing = self.warehouse.get_schema(db, ns, metric)
        except MetricNotFound:
            existing = None
        known = (
            {n: existing.field_class(n) for n in existing.fields}
            if existing is not None else None
        )
        incoming, df = frame_schema(
            df, tags=tuple(tags), widen_ints=widen_ints, known_classes=known
        )
        info = self.warehouse.get_info(db, ns, metric)
        retention = info["retention"]
        si = info["shardInterval"]
        now = self.now_fn()
        # Validate EVERYTHING before mutating the schema registry
        # (insert_bits' validate-then-mutate order): the local union both
        # surfaces type conflicts and gives conform_frame its target
        # shape WITHOUT writing — a rejected batch must not durably
        # register fields/widenings the write never lands (reads would
        # project a phantom NULL column forever, and a later legitimate
        # ingest of that field could then conflict).
        union_err: SchemaError | None = None
        merged = incoming
        if existing is not None:
            try:
                merged = existing.union(incoming)
            except SchemaError as e:
                union_err = e
        if union_err is not None:
            # error PRECEDENCE mirrors insert_bits: retention and NULL
            # checks fire before a schema conflict surfaces (there, the
            # union runs after per-bit validation) — the raw frame still
            # carries the timestamp/value columns they need
            self._reject_invalid(self._batch_figures(df, retention, now), retention)
            raise union_err
        figures = None

        def check(files: list[str]) -> None:
            nonlocal figures
            figures = self._footer_figures(footer_stats(files), retention, now)
            if figures is None:
                figures = self._batch_figures(
                    self.spark.read.schema(merged.to_struct_type()).parquet(*files),
                    retention, now,
                )
            self._reject_invalid(figures, retention)
            if figures[0]:
                # every check passed — NOW mutate the registry (under its
                # lock; a concurrent ingest may have widened it further,
                # which the union inside update_schema absorbs)
                self.warehouse.update_schema(db, ns, metric, incoming)

        published = self.warehouse.append_shards(
            db, ns, metric, self._shard_writer(conform_frame(df, merged, si)), check
        )
        n, _, _, lo, hi = figures
        if n:
            self._maintain_rollups_on_write(
                db, ns, metric, lo, hi,
                lambda: self.spark.read.schema(merged.to_struct_type()).parquet(*published),
            )
        return n

    @staticmethod
    def _batch_figures(frame: DataFrame, retention: int, now: int) -> tuple:
        """(rows, rows with NULL or negative timestamp or NULL value, rows
        outside the retention window, min timestamp, max timestamp) of a
        batch, counted exactly in one Spark job. A bit without timestamp
        or value does not exist in NSDb (Bit.scala's fields are
        mandatory) — and admitting NULL values would make rollup-served
        count/avg diverge from the raw path's NULL-skipping
        count(target)."""
        ts = F.col("timestamp")
        return tuple(frame.agg(
            F.count(F.lit(1)),
            F.count(F.when(ts.isNull() | (ts < 0) | F.col("value").isNull(), 1)),
            F.count(F.when((ts < now - retention) | (ts > now + retention), 1))
            if retention else F.lit(0),
            F.min(ts),
            F.max(ts),
        ).first())

    @staticmethod
    def _footer_figures(stats: tuple | None, retention: int, now: int) -> tuple | None:
        """_batch_figures of a clean batch from its footer stats; None when
        the stats are missing or show a row to reject, whose exact count
        the error message then needs."""
        if stats is None:
            return None
        rows, ts_nulls, value_nulls, lo, hi = stats
        if ts_nulls or value_nulls or lo is not None and (
            lo < 0 or retention and (lo < now - retention or hi > now + retention)
        ):
            return None
        return rows, 0, 0, lo, hi

    @staticmethod
    def _reject_invalid(figures: tuple, retention: int) -> None:
        """Raise for a batch whose _batch_figures count a row to reject:
        retention first, then NULL or negative timestamps (insert_bits'
        order)."""
        _, n_bad, ret_bad, _, _ = figures
        if ret_bad:
            raise RetentionError(
                f"{ret_bad} rows outside the retention window of {retention} ms"
            )
        if n_bad:
            raise SchemaError(
                f"{n_bad} rows with NULL or negative timestamp, or NULL value"
            )

    def insert_from_files(
        self,
        db: str,
        ns: str,
        metric: str,
        path: str,
        fmt: str = "csv",
        tags: tuple[str, ...] | list[str] = (),
        options: dict[str, str] | None = None,
    ) -> int:
        """Bulk-load CSV / JSON-lines / parquet files into a metric (the
        file-source analogue of the HTTP/gRPC insert surfaces). Formats map
        to Spark readers; csv defaults to header+inferSchema."""
        from .sources.bulk import read_bulk

        df = read_bulk(self.spark, path, fmt, options)
        return self.insert_frame(db, ns, metric, df, tags=tags)

    def _maintain_rollups_on_write(self, db, ns, metric, lo, hi, batch) -> None:
        """Incrementally merge an insert batch into every registered
        rollup (temporal: additive count/sum + re-max per fine bucket;
        group: additive n/sum + re-reduced min/max per group). Cost is
        proportional to the ROLLUP size, not history. A bit outside a
        temporal rollup's pinned (lower, upper] axis would change the
        bucket grid, so that case invalidates everything instead. `batch`
        returns the batch's rows as a frame; it is called only when the
        metric has rollups.

        Serialized per metric: every merge below is read-merge-overwrite,
        and unserialized concurrent batches would silently drop each
        other's partials (lost update)."""
        # common chokepoint for every completed data write (record, bulk,
        # streaming): cached plans over this metric are now stale. Bump
        # BEFORE the merge (prompt invalidation of raw-path plans) and
        # AFTER it (a rollup-routed query that planned DURING the merge
        # window cached pre-merge aggregates under the mid-merge token —
        # without the second bump it would serve them forever).
        self._bump_metric_version(db, ns, metric)
        try:
            with self.warehouse.metric_lock(db, ns, metric):
                return self._maintain_rollups_locked(db, ns, metric, lo, hi, batch)
        finally:
            self._bump_metric_version(db, ns, metric)

    def _maintain_rollups_locked(self, db, ns, metric, lo, hi, batch) -> None:
        specs = self.warehouse.rollups(db, ns, metric)
        if not specs:
            return
        si = self.warehouse.get_info(db, ns, metric)["shardInterval"]
        try:
            batch_df = batch()
            if self._outside_pins(specs, lo, hi, batch_df):
                self.warehouse.invalidate_rollups(db, ns, metric)
                return
            for spec in specs:
                partials, _ = self._rollup_partials(spec, batch_df, si)
                stored = read_parquet(
                    self.spark, self.warehouse.rollup_path(db, ns, metric, spec)
                )
                self.warehouse.rewrite_rollup(
                    db, ns, metric, spec,
                    self._merge_partials(spec, stored, partials).write.parquet,
                )
        except Exception:
            # maintenance must never be less safe than invalidation (e.g.
            # a batch that widens the value type mid-merge) — but log it:
            # a persistently failing merge otherwise silently degrades
            # every subsequent query to raw scans with no visible signal
            _log.warning(
                "rollup maintenance failed for %s.%s.%s; invalidating "
                "all rollups (queries fall back to raw scans)",
                db, ns, metric, exc_info=True,
            )
            self.warehouse.invalidate_rollups(db, ns, metric)

    @staticmethod
    def _outside_pins(specs: list[RollupSpec], lo, hi, batch_df) -> bool:
        """True when the batch leaves a spec's pinned time axis or value
        grid — merging it would change that rollup's bucket grid or
        binning, so every rollup is invalidated instead."""
        if any(s.bounds and (lo < s.bounds[0] or hi > s.bounds[1]) for s in specs):
            return True
        grids = [s.value_range for s in specs if s.value_range]
        if not grids:
            return False
        vlo, vhi = batch_df.agg(F.min("value"), F.max("value")).first()
        return vlo is not None and any(
            float(vlo) < g[0] or float(vhi) > g[1] for g in grids
        )

    # ------------------------------------------------------------- read path
    def read_metric(self, db: str, ns: str, metric: str) -> DataFrame:
        """Metric frame with the registry schema (absent fields = NULL even
        in old files — read with an explicit schema).

        The constructed frame is memoized under the same per-metric
        version token as the plan cache: `spark.read.parquet` builds a
        JVM file index on every call (~tens of ms), which dominates the
        plan path for DISTINCT statements over the same metric. Any
        mutation bumps the version and the next read re-lists."""
        return self._read_metric_frame(db, ns, metric, serving=False)

    def _read_metric_frame(
        self, db: str, ns: str, metric: str, serving: bool
    ) -> DataFrame:
        """read_metric on the analytics session, or (serving=True) on the
        interpreted point-serving session. Storing a serving frame also
        registers it as the metric's serving temp view, _serving_view(),
        under the frame cache's lock and its monotone-replace rule: the
        view is named global state, and an older-token registration
        racing past a newer one would serve deleted rows for a full token
        cycle. spark.sql ANALYZES EAGERLY, so a planned statement binds
        the view's relation at call time — replacing the view later never
        retargets it."""
        key = (db, ns, metric, serving)
        token = self._cache_token(db, ns, metric)
        df = self._frames.get(key, token)
        if df is not None:
            return df
        session = self._serving_session() if serving else self.spark
        schema = self.warehouse.get_schema(db, ns, metric)
        if not self.warehouse.locations(db, ns, metric):
            df = session.createDataFrame(
                [], schema.to_struct_type(with_shard=True)
            )
        else:
            df = self._scan_shards(session, db, ns, metric, schema)
        publish = (
            functools.partial(df.createOrReplaceTempView, _serving_view(db, ns, metric))
            if serving else None
        )
        self._frames.put(key, token, df, publish)
        return df

    def _scan_shards(self, session, db: str, ns: str, metric: str, schema) -> DataFrame:
        """The one raw-shard reader (base frames, compaction, Z-order),
        with the registry schema. Files that retention or a shard swap
        removes between planning and execution are skipped, not fatal
        (the role NSDb's Lucene searcher refcounts play)."""
        return (
            session.read.schema(schema.to_struct_type(with_shard=True))
            .option("ignoreMissingFiles", "true")
            .parquet(self.warehouse.data_path(db, ns, metric))
        )

    def execute(
        self,
        sql: str,
        db: str = "default",
        ns: str = "default",
        time_context: TimeContext | None = None,
    ):
        """Execute one NSDb-dialect statement. SELECT → DataFrame;
        INSERT/DELETE/DROP → effect + summary; commands → python data."""
        stmt = parse(sql, db=db, namespace=ns)
        if isinstance(stmt, ast.SelectSQLStatement):
            return self.execute_select(stmt, time_context)
        if isinstance(stmt, ast.InsertSQLStatement):
            ts = stmt.timestamp if stmt.timestamp is not None else self.now_fn()
            bit = Bit(ts, stmt.value, dict(stmt.dimensions), dict(stmt.tags))
            return self.insert_bits(db, ns, stmt.metric, [bit])
        if isinstance(stmt, ast.DeleteSQLStatement):
            return self.delete(stmt, time_context)
        if isinstance(stmt, ast.DropSQLStatement):
            self.warehouse.drop_metric(db, ns, stmt.metric)
            self._bump_metric_version(db, ns, stmt.metric)
            return None
        if isinstance(stmt, ast.ShowMetrics):
            return self.warehouse.metrics(db, ns)
        if isinstance(stmt, ast.ShowNamespaces):
            return self.warehouse.namespaces(db)
        if isinstance(stmt, ast.DescribeMetric):
            schema = self.warehouse.get_schema(db, ns, stmt.metric)
            out = [("timestamp", "BIGINT", "timestamp"), ("value", schema.value_type.value, "value")]
            out += [
                (n, f.nsdb_type.value, f.field_class.value)
                for n, f in sorted(schema.fields.items())
            ]
            return out
        if isinstance(stmt, ast.UseNamespace):
            return stmt.namespace
        raise TypeError(f"unsupported statement {stmt!r}")

    def execute_select(
        self, stmt: ast.SelectSQLStatement, time_context: TimeContext | None = None
    ) -> DataFrame:
        df, _parsed, _routed = self._plan_select(stmt, time_context)
        return df

    #: collected rows are cached alongside a plan only under this bound —
    #: the cache is for the dashboard/point-query shape, not bulk scans.
    _CACHED_ROWS_MAX = 10_000

    def collect_select(
        self, stmt: ast.SelectSQLStatement, time_context: TimeContext | None = None
    ) -> list:
        """execute_select + collect, with the collected rows cached in the
        SAME plan-cache entry as the compiled plan: a repeated identical
        point query (the reference's Gatling/gRPC load shape) skips
        Spark's per-action overhead entirely, and any mutation invalidates
        rows and plan together. Results above _CACHED_ROWS_MAX rows are
        returned but not retained. Cache hits return a COPY of the stored
        list — callers may mutate their result without poisoning the
        cache.

        A miss decides the statement's route once (_route) and reads
        exactly what the statement asks for: a `... LIMIT k` read fetches
        k rows. A novel statement that _route sends to "files" runs no
        Spark job: an unordered plain `... LIMIT k` read
        (_read_point_rows), or a tag group-by, global or temporal
        aggregate (_read_aggregate_rows), read from the touched shards'
        files with pyarrow. Its rows go into the statement's plan-cache
        entry with no DataFrame. Every other route plans through
        _plan_select and collects."""
        slot = self._cache_slot(stmt)
        key, token = slot
        hit = None
        if key is not None:
            hit = self._plans.get(key, token)
            if hit is not None and hit.rows is not None:
                return list(hit.rows)
        read = self._route(stmt, time_context)
        if read.route != "files":
            plan = self._plan_select(stmt, time_context, slot=slot, read=read)
            rows = plan[0].collect()
        else:
            # a plan stored under this token stays cached beside the rows
            plan = hit.plan if hit is not None else (None, read.parsed, False)
            if isinstance(read.parsed, analyzer.ParsedSimpleQuery):
                rows = self._read_point_rows(read, stmt.limit.value)
            else:
                rows = self._read_aggregate_rows(read)
        if key is not None and len(rows) <= self._CACHED_ROWS_MAX:
            self._plans.put(key, token, _Planned(plan, list(rows)))
        return rows

    @staticmethod
    def _read_point_rows(read: _Read, bound: int) -> list:
        """The first `bound` rows of a plain SELECT, read from its shard
        files in shard order without Spark: the scan stops once it holds
        `bound` rows (the reference's metric reader visits its shards in
        time order and stops once it has the rows,
        MetricReaderActor.scala:173-198). Row groups outside the WHERE's
        time range are skipped by their statistics, never decoded."""
        columns = projection(read.schema, read.parsed.fields)
        table = _scan_shard_files(
            read.files, read.schema, columns, read.predicate, lambda s: s.head(bound)
        )
        return _rows(columns, zip(*(table[c].to_pylist() for c in columns)))

    @staticmethod
    def _read_aggregate_rows(read: _Read) -> list:
        """A tag group-by, global or temporal aggregate computed from its
        shard files without Spark (compiler.arrow_aggregate), as the
        reference's shard readers compute facet partials that post_proc
        reduces (ShardReaderActor.scala:163-340). The scanner's batches
        stream into the aggregation, so memory is bounded by the groups
        or buckets, not by the rows scanned."""
        columns, tuples = _scan_shard_files(
            read.files, read.schema, aggregate_columns(read.parsed), read.predicate,
            lambda s: arrow_aggregate(
                read.parsed, read.schema, s.to_batches(), read.ctx,
                read.locations, read.shard_interval,
            ),
        )
        return _rows(columns, tuples)

    #: serving gates (see _point_route): a read plans on the interpreted
    #: serving session only when shard pruning leaves at most
    #: _POINT_SERVE_MAX_SHARDS shards, and a plain SELECT also only when
    #: the caller wants at most _POINT_SERVE_MAX_LIMIT rows — the
    #: dashboard shapes, where per-literal Janino compilation and a
    #: many-partition shuffle dominate. Larger limits or wide scans stay
    #: on the codegen session, whose per-row throughput wins as soon as
    #: the scan is data-sized.
    _POINT_SERVE_MAX_LIMIT = 1_000
    _POINT_SERVE_MAX_SHARDS = 4

    def _plan_select(
        self,
        stmt: ast.SelectSQLStatement,
        time_context: TimeContext | None = None,
        slot: tuple | None = None,
        read: _Read | None = None,
    ) -> tuple[DataFrame, Any, bool]:
        """Shared SELECT planning: (DataFrame, analyzed plan, rollup-routed?).
        execute_select returns the frame; explain_select reports the rest.

        slot: the caller's _cache_slot(stmt), when it already has one.
        read: the caller's _route(stmt, ...), decided after that slot's
        token was read, when it already has one."""
        key, token = slot or self._cache_slot(stmt)
        hit = None
        if key is not None:
            hit = self._plans.get(key, token)
            if hit is not None and hit.plan[0] is not None:
                return hit.plan
        db, ns = stmt.db or "default", stmt.namespace or "default"
        read = read or self._route(stmt, time_context)
        schema, parsed, ctx = read.schema, read.parsed, read.ctx
        routed = None
        if read.spec is not None:
            routed = self._route_via_rollup(db, ns, stmt, parsed, read.spec)
        if routed is not None:
            out = (routed, parsed, True)
        elif read.serving and isinstance(parsed, analyzer.ParsedSimpleQuery):
            # a plain SELECT plans as ONE parameterized spark.sql text
            # over the serving view (shard conjunct folded into the
            # WHERE): a single py4j roundtrip instead of ~2 per Column
            # node, which dominated the uncached point-statement floor
            # (BASELINE.md decomposition). Parity with the Column
            # pipeline is pinned by the grid + hypothesis tests.
            self._read_metric_frame(db, ns, stmt.metric, serving=True)
            text, args = serving_sql(
                parsed, schema, ctx,
                view=_serving_view(db, ns, stmt.metric),
                shards=shard_ranges(read.ivs, read.shard_interval),
            )
            out = (self._serving_session().sql(text, args=args), parsed, False)
        else:
            df = self._prune_shards(
                self._read_metric_frame(db, ns, stmt.metric, read.serving),
                read.ivs, read.shard_interval,
            )
            if read.serving:
                # a few shards' rows in ONE partition: SinglePartition
                # satisfies the aggregate's and the axis merge join's
                # distribution, so the read plans no Exchange and runs
                # one task (a scan reports UnknownPartitioning)
                df = df.coalesce(1)
            compiler = QueryCompiler(
                self._serving_session() if read.serving else self.spark,
                shard_interval_ms=read.shard_interval,
                approx_count_distinct=self.approx_count_distinct,
            )
            out = (
                compiler.compile(
                    df.drop(SHARD_COL), schema, parsed, ctx, locations=read.locations
                ),
                parsed,
                False,
            )
        if key is not None:
            # rows a "files" read stored under this token stay served
            self._plans.put(
                key, token, _Planned(out, hit.rows if hit is not None else None)
            )
        return out

    def _analyze(self, stmt: ast.SelectSQLStatement) -> tuple[MetricSchema, Any]:
        """(registry schema, analyzed plan) of a SELECT."""
        schema = self.warehouse.get_schema(
            stmt.db or "default", stmt.namespace or "default", stmt.metric
        )
        return schema, analyzer.analyze(stmt, schema)

    def _point_route(
        self, stmt, parsed, locations, ivs, shard_interval: int, ctx: TimeContext
    ) -> bool:
        """True when a statement should plan on the interpreted serving
        session — the one serving route for point and aggregate reads.
        The shard gate is shared: shard pruning must leave at most
        _POINT_SERVE_MAX_SHARDS shards. The assumption behind it is that
        a few shards are small enough that interpreted execution and one
        shuffle partition cost less than a Janino compile of every novel
        statement plus a shuffle fanned out over every core.

        Past the gate, an aggregate (tag group-by, global, temporal)
        serves, unless it is a temporal read whose bucket axis is longer
        than the broadcast cap (compiler._BROADCAST_BUCKETS_MAX): a tiny
        interval over a long shard makes millions of buckets, which one
        interpreted partition joins and sorts slower than the analytics
        session. A plain SELECT serves only when it is not DISTINCT and
        its own LIMIT is at most _POINT_SERVE_MAX_LIMIT. DISTINCT and
        LIMIT-less plain scans keep the codegen session — they are
        data-sized regardless of the shard count.

        Of the statements this passes, collect_select reads from the shard
        files without Spark (_route's "files") every unordered plain
        SELECT and every tag group-by, global or temporal aggregate that
        no rollup serves. Ordered plain SELECTs and mixed plain+aggregate
        globals, like every execute_select, plan on the serving session:
        a plain SELECT as one SQL text (serving_sql), an aggregate with
        the Column compiler."""
        if isinstance(parsed, analyzer.ParsedSimpleQuery) and (
            parsed.distinct
            or stmt.limit is None
            or stmt.limit.value > self._POINT_SERVE_MAX_LIMIT
        ):
            return False
        if isinstance(parsed, analyzer.ParsedTemporalAggregatedQuery) and locations:
            axis = temporal_axis(
                parsed, ctx, ivs, min(locations), max(locations) + shard_interval
            )
            buckets = sum(bucket_count(lo, hi, parsed.interval_ms) for lo, hi in axis)
            if buckets > _BROADCAST_BUCKETS_MAX:
                return False
        scanned = touched_shards(locations, ivs, shard_interval)
        return len(scanned) <= self._POINT_SERVE_MAX_SHARDS

    def _route(
        self, stmt: ast.SelectSQLStatement, time_context: TimeContext | None = None
    ) -> _Read:
        """A SELECT's route, decided once from one schema read, one
        analysis, at most one read of the rollup registry and one listing
        of the data directory: "rollup" (a registered rollup serves it,
        _rollup_route), "files" (read from the touched shards' files with
        pyarrow, no Spark job), "serving" (planned on the interpreted
        serving session) or "analytics" (the codegen session). The one
        gate of the shard-file reads, and the route explain_select
        reports. A "files" read also lists its touched shards' files (in
        shard order) and carries its WHERE as a pyarrow expression; the
        shard files hold only their own shard's timestamps, so the WHERE
        alone stands for the shard conjunct of the Spark route."""
        db, ns = stmt.db or "default", stmt.namespace or "default"
        schema, parsed = self._analyze(stmt)
        ctx = time_context or TimeContext(self.now_fn())
        si = self.warehouse.get_info(db, ns, stmt.metric)["shardInterval"]
        cond = stmt.condition.expression if stmt.condition else None
        ivs = extract_time_range(cond, ctx)
        locations = self.warehouse.locations(db, ns, stmt.metric)
        spec = self._rollup_route(db, ns, stmt, parsed, locations, si)
        serving = self._point_route(stmt, parsed, locations, ivs, si, ctx)
        read = _Read(schema, parsed, ctx, locations, si, ivs, spec, serving, "analytics")
        if spec is not None:
            return read._replace(route="rollup")
        if not serving:
            return read
        if isinstance(parsed, analyzer.ParsedSimpleQuery) and stmt.order is not None or (
            isinstance(parsed, analyzer.ParsedGlobalAggregatedQuery) and parsed.plain_fields
        ):
            return read._replace(route="serving")
        return read._replace(
            route="files",
            files=self.warehouse.shard_files(
                db, ns, stmt.metric, touched_shards(locations, ivs, si)
            ),
            predicate=None if cond is None else arrow_expression(cond, ctx),
        )

    def explain_select(
        self,
        query_string: str,
        db: str = "default",
        ns: str = "default",
        time_context: TimeContext | None = None,
    ) -> dict:
        """EXPLAIN — an engine extension (the reference dialect has no
        EXPLAIN; its CLI surface is SHOW/USE/DESCRIBE only): parse,
        analyze, and PLAN a SELECT without executing it, reporting

        - plan_class: which of the four ParsedQuery classes it compiles to
          (SURVEY.md §2.5 / StatementParser.scala:49-148 analogue);
        - time_ranges: the WHERE-implied [lo, hi] intervals the pruner
          extracted (None hi = unbounded; empty list = no time predicate);
        - shards_total / shards_scanned: on-disk shard partitions vs the
          ones surviving pruning — the same arithmetic _prune_shards
          pushes into the partition filter, previewed against the
          catalog's locations so an operator can see WHY a query is slow
          before paying for it;
        - rollup_routed: whether the engine would serve it from a
          materialized rollup instead of the raw metric;
        - route: the route collect_select takes (_route): "files" (read
          from the shard files with pyarrow, no Spark job), "serving",
          "analytics" or "rollup";
        - physical_plan: Spark's executed-plan tree for the compiled frame
          (the plan execute_select runs; a "files" read runs none).

        The route and the shard and time figures come from the same
        _route answer the plan is built with; a "rollup" route whose store
        has vanished reports the raw route its plan falls back to.
        """
        stmt = parse(query_string, db=db, namespace=ns)
        if not isinstance(stmt, ast.SelectSQLStatement):
            raise ValueError("explain accepts SELECT statements only")
        slot = self._cache_slot(stmt)
        read = self._route(stmt, time_context)
        df, parsed, routed = self._plan_select(stmt, read.ctx, slot=slot, read=read)
        route = read.route
        if route == "rollup" and not routed:  # the store vanished: the raw plan runs
            route = "serving" if read.serving else "analytics"
        return {
            "plan_class": type(parsed).__name__,
            "time_ranges": [list(iv) for iv in read.ivs],
            "shards_total": len(read.locations),
            "shards_scanned": len(
                touched_shards(read.locations, read.ivs, read.shard_interval)
            ),
            "rollup_routed": routed,
            "route": route,
            "physical_plan": df._jdf.queryExecution().executedPlan().toString(),
        }

    def query(
        self,
        query_string: str,
        db: str = "default",
        ns: str = "default",
        from_ts: int | None = None,
        to_ts: int | None = None,
        filters: list[tuple[str, Any, str]] | None = None,
        time_context: TimeContext | None = None,
    ) -> DataFrame:
        """HTTP-API-style enriched SELECT: see enrich_statement."""
        stmt = self.enrich_statement(
            query_string, db=db, ns=ns, from_ts=from_ts, to_ts=to_ts, filters=filters
        )
        return self.execute_select(stmt, time_context)

    def query_records(
        self,
        query_string: str,
        db: str = "default",
        ns: str = "default",
        from_ts: int | None = None,
        to_ts: int | None = None,
        filters: list[tuple[str, Any, str]] | None = None,
        time_context: TimeContext | None = None,
    ) -> list[dict]:
        """`query` + collect through the result cache — the HTTP/WS
        serving path (QueryApi's record payload shape)."""
        stmt = self.enrich_statement(
            query_string, db=db, ns=ns, from_ts=from_ts, to_ts=to_ts, filters=filters
        )
        return [
            r.asDict(recursive=True)
            for r in self.collect_select(stmt, time_context)
        ]

    def enrich_statement(
        self,
        query_string: str,
        db: str = "default",
        ns: str = "default",
        from_ts: int | None = None,
        to_ts: int | None = None,
        filters: list[tuple[str, Any, str]] | None = None,
    ) -> ast.SelectSQLStatement:
        """HTTP/WS-API-style enrichment: external from/to + filters ANDed
        into the parsed statement (QueryEnriched.scala:44-70,
        SQLStatement.scala:400-450 parity). Shared by POST/GET /query and
        the WebSocket RegisterQuery path.

        filters: (dimension, value, operator) with operator in
        {'=', '>', '>=', '<', '<=', 'like', 'isnull', 'isnotnull'}.
        """
        stmt = parse(query_string, db=db, namespace=ns)
        if not isinstance(stmt, ast.SelectSQLStatement):
            raise ValueError("query() accepts SELECT statements only")
        extra: list[ast.Expression] = []
        if from_ts is not None and to_ts is not None:
            extra.append(
                ast.RangeExpression(
                    "timestamp",
                    ast.AbsoluteComparisonValue(from_ts),
                    ast.AbsoluteComparisonValue(to_ts),
                )
            )
        for dim, value, op in filters or []:
            v = ast.AbsoluteComparisonValue(value)
            if op == "=":
                extra.append(ast.EqualityExpression(dim, v))
            elif op in (">", ">=", "<", "<="):
                extra.append(ast.ComparisonExpression(dim, op, v))
            elif op.lower() == "like":
                extra.append(ast.LikeExpression(dim, value))
            elif op.lower() == "isnull":
                extra.append(ast.NullableExpression(dim))
            elif op.lower() == "isnotnull":
                extra.append(ast.NullableExpression(dim, negated=True))
            else:
                raise ValueError(f"unsupported filter operator {op}")
        if extra:
            combined = stmt.condition.expression if stmt.condition else None
            for e in extra:
                combined = e if combined is None else ast.TupledLogicalExpression(
                    combined, "and", e
                )
            stmt.condition = ast.Condition(combined)
        return stmt

    # ------------------------------------------------------------- delete
    def delete(self, stmt: ast.DeleteSQLStatement, time_context: TimeContext | None = None) -> int:
        """Anti-filter rewrite of only the affected shard partitions
        (SURVEY.md §2.1 DELETE mapping). Untouched shards are not rewritten.

        Runs under the per-metric lock: a materialize racing the
        rewrite could otherwise register a rollup built from pre-delete
        data AFTER this invalidation — durably serving deleted rows."""
        db, ns = stmt.db or "default", stmt.namespace or "default"
        with self.warehouse.metric_lock(db, ns, stmt.metric):
            return self._delete_locked(stmt, time_context)

    def _delete_locked(self, stmt, time_context=None) -> int:
        db, ns = stmt.db or "default", stmt.namespace or "default"
        schema = self.warehouse.get_schema(db, ns, stmt.metric)
        ctx = time_context or TimeContext(self.now_fn())
        # validate fields/types with the same rules as SELECT
        analyzer._check_expression(stmt.condition.expression, schema)
        ivs = extract_time_range(stmt.condition.expression, ctx)
        affected = touched_shards(
            self.warehouse.locations(db, ns, stmt.metric),
            ivs,
            self.warehouse.get_info(db, ns, stmt.metric)["shardInterval"],
        )
        if not affected:
            return 0
        from .compiler import compile_expression

        df = self.read_metric(db, ns, stmt.metric).filter(F.col(SHARD_COL).isin(affected))
        keep = df.filter(~F.coalesce(compile_expression(stmt.condition.expression, ctx), F.lit(False)))
        # affected shards are swapped for their kept rows; one left empty
        # is removed (Delta DELETE / replaceWhere granularity)
        self.warehouse.rewrite_shards(
            db, ns, stmt.metric, affected, self._shard_writer(keep)
        )
        self.warehouse.invalidate_rollups(db, ns, stmt.metric)
        self._bump_metric_version(db, ns, stmt.metric)
        return len(affected)

    # ------------------------------------------------------------- rollups
    #: aggregations answerable from rollup partials (count-distinct is not
    #: mergeable without sketches; min carries the zero-skip quirk — both
    #: stay on the raw path)
    _ROLLUP_AGGS = frozenset({ast.AGG_COUNT, ast.AGG_SUM, ast.AGG_MAX, ast.AGG_AVG})

    #: group-by aggs answerable from per-group partials. Group-by MIN has
    #: no cross-shard zero-skip quirk (that is temporal-only), so it IS
    #: rollup-servable here. first/last/count-distinct stay raw.
    _GROUP_ROLLUP_AGGS = frozenset(
        {ast.AGG_COUNT, ast.AGG_SUM, ast.AGG_MIN, ast.AGG_MAX, ast.AGG_AVG}
    )

    @staticmethod
    def _rollup_partials(spec: RollupSpec, df: DataFrame, si: int):
        """The one build call per rollup kind: df's mergeable partials on
        spec's pinned axis and grid, and spec with the value grid the
        build pinned (a quantile spec without one takes df's range)."""
        from .operators import rollup as rollup_ops

        if spec.kind == "group":
            return rollup_ops.build_group_rollup(df, spec.field), spec
        if spec.kind == "quantile":
            r, _, vrange = rollup_ops.build_quantile_rollup(
                df, spec.fine_ms, si, nbins=spec.nbins,
                bounds=spec.bounds, value_range=spec.value_range,
            )
            return r, dataclasses.replace(spec, value_range=vrange)
        if spec.kind == "hll":
            r, _ = rollup_ops.build_hll_rollup(
                df, spec.field, spec.fine_ms, si, p=spec.p, bounds=spec.bounds
            )
            return r, spec
        r, _ = rollup_ops.build_temporal_rollup(df, spec.fine_ms, si, bounds=spec.bounds)
        return r, spec

    @staticmethod
    def _merge_partials(spec: RollupSpec, stored: DataFrame, batch: DataFrame) -> DataFrame:
        """The one merge call per rollup kind: stored partials + a batch's."""
        from .operators import rollup as rollup_ops

        if spec.kind == "group":
            return rollup_ops.merge_group_rollups(spec.field, stored, batch)
        return {
            "temporal": rollup_ops.merge_rollups,
            "quantile": rollup_ops.merge_quantile_rollups,
            "hll": rollup_ops.merge_hll_rollups,
        }[spec.kind](stored, batch)

    def _materialize(self, db: str, ns: str, metric: str, spec: RollupSpec):
        """Build, persist and register one rollup over the metric's whole
        history; returns the registered spec. A time-bucketed kind pins
        its axis to the SHARD grid exactly like the raw temporal path
        (the compiler derives bucket bounds from locations).

        Under the per-metric lock: a concurrent insert's maintenance merge
        interleaving with this read-build-swap-register would base its
        merge on the pre-materialize state and clobber the fresh build."""
        with self.warehouse.metric_lock(db, ns, metric):
            si = self.warehouse.get_info(db, ns, metric)["shardInterval"]
            if spec.fine_ms is not None:
                locations = self.warehouse.locations(db, ns, metric)
                if not locations:
                    raise ValueError(f"no data to roll up for {db}.{ns}.{metric}")
                spec = dataclasses.replace(
                    spec, bounds=(min(locations), max(locations) + si)
                )
            if (
                spec.field is not None
                and self.warehouse.get_schema(db, ns, metric).field_class(spec.field) is None
            ):
                raise ValueError(f"unknown {spec.kind} field {spec.field!r}")
            df = self.read_metric(db, ns, metric).drop(SHARD_COL)
            r, spec = self._rollup_partials(spec, df, si)
            self.warehouse.rewrite_rollup(db, ns, metric, spec, r.write.parquet)
            self.warehouse.register_rollup(db, ns, metric, spec)
            self._bump_metric_version(db, ns, metric)
            return spec

    def materialize_rollup(self, db: str, ns: str, metric: str, fine_ms: int) -> tuple[int, int]:
        """Build + persist the fine-grained temporal rollup for a metric
        (the facet-index analogue — SURVEY.md §4 row 3). Subsequent
        `GROUP BY INTERVAL n` queries whose interval is a multiple of
        fine_ms (no WHERE / SINCE / count-distinct / min) are answered
        from the rollup without scanning raw data. In-axis writes merge
        into it; any other mutation invalidates it until a re-run.
        Returns the pinned (lower, upper) bounds."""
        return self._materialize(
            db, ns, metric, RollupSpec("temporal", fine_ms=fine_ms)
        ).bounds

    def materialize_quantile_rollup(
        self, db: str, ns: str, metric: str, fine_ms: int, nbins: int = 256
    ) -> tuple[tuple[int, int], tuple[float, float]]:
        """Build + persist mergeable quantile-sketch partials (fixed-grid
        histogram per fine bucket — operators/rollup.build_quantile_rollup)
        so percentile queries are served from the sketch instead of raw
        history. Maintained incrementally on insert like the temporal
        rollup (counts add); a batch whose values fall outside the pinned
        value grid invalidates it (grid change ⇒ rebuild), mirroring the
        time-axis rule. Returns the pinned (bounds, value_range)."""
        spec = self._materialize(
            db, ns, metric, RollupSpec("quantile", fine_ms=fine_ms, nbins=nbins)
        )
        return spec.bounds, spec.value_range

    def materialize_distinct_rollup(
        self, db: str, ns: str, metric: str, field: str, fine_ms: int, p: int = 10
    ) -> tuple[int, int]:
        """Build + persist HLL count-distinct registers for a field (the
        sketch-column discipline: Druid HLL columns, Timescale continuous
        aggregates). Temporal `count(distinct <field>)` queries are
        served from the registers WHEN the engine opts into approximate
        semantics (`approx_count_distinct=True` — NSDb's count distinct
        is exact, so routing an estimate must be an explicit choice).
        Maintained incrementally per insert batch (register-wise max);
        writes outside the pinned axis invalidate, like every rollup.
        Returns the pinned (lower, upper) bounds."""
        return self._materialize(
            db, ns, metric, RollupSpec("hll", field=field, fine_ms=fine_ms, p=p)
        ).bounds

    def materialize_group_rollup(self, db: str, ns: str, metric: str, field: str) -> int:
        """Build + persist per-group mergeable partials (n, sum, min, max
        of value) keyed by a tag/dimension. Subsequent `GROUP BY <field>`
        queries with count/sum/min/max/avg on value (no WHERE, no
        DISTINCT) are answered from this table — at scale it has one row
        per group value versus the raw metric's row per point, so a
        dashboard group-by scans kilobytes. The partials are additive
        (count/sum) or re-reducible (min/max), so per-batch increments
        can be merged without rescanning history — same maintenance model
        as operators/rollup.merge_rollups. Returns the group count."""
        spec = self._materialize(db, ns, metric, RollupSpec("group", field=field))
        return read_parquet(
            self.spark, self.warehouse.rollup_path(db, ns, metric, spec)
        ).count()

    def _rollup_spec(
        self, db, ns, metric, kind: str, field=None, interval_ms=None
    ) -> RollupSpec | None:
        """The coarsest registered `kind` rollup keyed on `field` whose
        grain divides interval_ms (any grain when interval_ms is None) —
        the coarsest usable grain scans the fewest rows."""
        fits = [
            s for s in self.warehouse.rollups(db, ns, metric)
            if s.kind == kind and s.field == field
            and (interval_ms is None or interval_ms % s.fine_ms == 0)
        ]
        return max(fits, key=lambda s: s.fine_ms or 0, default=None)

    def percentile(
        self,
        db: str,
        ns: str,
        metric: str,
        qs: list[float],
        coarse_ms: int | None = None,
    ) -> DataFrame:
        """Percentiles served from a registered quantile rollup: global
        (q, pvalue) rows, or per coarse bucket when coarse_ms is given
        (coarse_ms must be a multiple of a registered grain; qs must then
        be a single q). Raises if no fresh quantile rollup can serve —
        the caller decides whether to materialize or fall back to a raw
        percentile scan."""
        from .operators import rollup as rollup_ops

        spec = self._rollup_spec(db, ns, metric, "quantile", interval_ms=coarse_ms)
        if spec is None:
            raise ValueError(
                f"no quantile rollup registered for {db}.{ns}.{metric}"
                + (f" serving interval {coarse_ms}" if coarse_ms else "")
            )
        stored = self._read_rollup_store(db, ns, metric, spec)
        if stored is None:
            raise ValueError(
                f"quantile rollup for {db}.{ns}.{metric} is being rebuilt; retry"
            )
        if coarse_ms is None:
            return rollup_ops.percentiles_from_quantile_rollup(
                self.spark, stored, qs, spec.value_range, nbins=spec.nbins
            )
        if len(qs) != 1:
            raise ValueError("temporal percentile takes exactly one q")
        return rollup_ops.temporal_percentile_from_quantile_rollup(
            self.spark, stored, qs[0], spec.bounds, spec.fine_ms, coarse_ms,
            spec.value_range, nbins=spec.nbins,
        )

    def _read_rollup_store(self, db: str, ns: str, metric: str, spec: RollupSpec):
        """Open a rollup store for SERVING, tolerating a concurrent
        maintenance swap (Warehouse._swap): the directory can vanish
        between routing and the eager pin below. Returns None when
        unreadable — callers fall back to the raw path instead of failing
        the query.
        ONLY the missing-path case is the benign swap window; any other
        read failure (corrupt footers, bad schema) means the store itself
        is damaged, so the registration is invalidated — the query still
        answers from raw, and the next materialize rebuilds the rollup —
        instead of the fallback silently masking the corruption forever."""
        from pyspark.errors import AnalysisException

        path = self.warehouse.rollup_path(db, ns, metric, spec)
        try:
            # localCheckpoint(eager) PINS the store's contents at routing
            # time — rollup tables are small by design (bounded by the
            # bucket/group count), so this is cheap, and it closes the
            # execution-time window: without it a maintenance swap
            # between routing and the query's execution would vanish
            # every planned file, and an ignoreMissingFiles scan would
            # then serve FABRICATED ZERO aggregates instead of this
            # fallback. No ignoreMissingFiles here for the same reason:
            # a vanish mid-checkpoint must raise (→ raw fallback below),
            # never silently drop rows.
            return read_parquet(self.spark, path).localCheckpoint(eager=True)
        except Exception as e:
            # the swap window surfaces as PATH_NOT_FOUND at planning or
            # FileNotFound during the checkpoint job — both benign: the
            # raw path serves this query, the next route re-reads
            msg = str(e)
            if (
                isinstance(e, AnalysisException) and "PATH_NOT_FOUND" in msg
            ) or "FileNotFound" in msg:
                return None
            # anything else (corrupt footer, bad schema) is real damage
            _log.warning(
                "rollup store %s unreadable (%s); invalidating registrations "
                "for %s.%s.%s", path, e, db, ns, metric,
            )
            self.warehouse.invalidate_rollups(db, ns, metric)
            return None

    def _rollup_route(
        self, db, ns, stmt, parsed, locations, shard_interval: int
    ) -> RollupSpec | None:
        """The registered rollup that serves a temporal or group-by query,
        decided from metadata alone (no store read) and the caller's
        listing of the metric's shards, else None (raw path).
        Temporal: agg in _ROLLUP_AGGS (or count-distinct from HLL
        registers), no WHERE, no SINCE, ORDER BY timestamp only, interval
        a multiple of a registered rollup's grain whose pinned axis is
        still current. Group-by: agg on value in _GROUP_ROLLUP_AGGS, no
        WHERE, field has a registered rollup."""
        from .analyzer import ParsedAggregatedQuery, ParsedTemporalAggregatedQuery

        if isinstance(parsed, ParsedAggregatedQuery):
            a = parsed.aggregation
            if stmt.condition is not None:
                return None
            if a.kind not in self._GROUP_ROLLUP_AGGS or a.target != "value":
                return None
            return self._rollup_spec(db, ns, stmt.metric, "group", parsed.group_field)
        if not isinstance(parsed, ParsedTemporalAggregatedQuery):
            return None
        if stmt.condition is not None or parsed.grace_period_ms is not None:
            return None
        if stmt.order and stmt.order.dimension != "timestamp":
            return None
        a = parsed.aggregation
        if a.kind == ast.AGG_COUNT_DISTINCT:
            # HLL registers serve an ESTIMATE — only when the engine opted
            # into approximate semantics (NSDb's count distinct is exact;
            # the same opt-in switches the raw path to approx_count_distinct)
            if not self.approx_count_distinct:
                return None
            spec = self._rollup_spec(db, ns, stmt.metric, "hll", a.target, parsed.interval_ms)
        # the rollup stores VALUE partials (count over rows == count over
        # non-null values only because ingest rejects NULL values);
        # count(<tag>) skips NULL tags on the raw path, which no stored
        # partial can reproduce — same target rule as the group route
        elif a.kind in self._ROLLUP_AGGS and a.target in ("value", "*"):
            spec = self._rollup_spec(
                db, ns, stmt.metric, "temporal", interval_ms=parsed.interval_ms
            )
        else:
            return None
        if spec is None:
            return None
        if not locations or spec.bounds != (
            min(locations), max(locations) + shard_interval
        ):
            return None  # axis moved (e.g. retention dropped shards) — stale
        return spec

    def _route_via_rollup(self, db, ns, stmt, parsed, spec: RollupSpec):
        """Return a DataFrame served from the rollup `spec` that
        _rollup_route chose, else None (its store vanished: raw path).
        Temporal ORDER BY timestamp and LIMIT keep their quirk semantics
        (takeRight); group-by ORDER BY and LIMIT apply as on the raw
        path."""
        from .compiler import agg_alias
        from .operators import rollup as rollup_ops

        stored = self._read_rollup_store(db, ns, stmt.metric, spec)
        if stored is None:
            return None  # swapped away mid-route — raw path serves
        a = parsed.aggregation
        alias = agg_alias(a)
        limit = stmt.limit.value if stmt.limit else None
        if spec.kind == "group":
            v = {
                ast.AGG_COUNT: F.col("n"),
                ast.AGG_SUM: F.col("sum_value"),
                ast.AGG_MIN: F.col("min_value"),
                ast.AGG_MAX: F.col("max_value"),
                ast.AGG_AVG: F.col("sum_value") / F.col("n"),
            }[a.kind]
            out = stored.select(parsed.group_field, v.alias(alias))
            if stmt.order:
                # ORDER BY value sorts by the aggregate, same as the raw path
                target = alias if stmt.order.dimension == "value" else parsed.group_field
                out = out.orderBy(
                    F.col(target).desc() if stmt.order.descending else F.col(target).asc()
                )
            return out if limit is None else out.limit(limit)
        descending = bool(stmt.order and stmt.order.descending)
        if spec.kind == "temporal":
            return rollup_ops.temporal_from_rollup(
                self.spark, stored, spec.bounds, spec.fine_ms, parsed.interval_ms,
                a.kind, alias, limit=limit, descending=descending,
            )
        out = rollup_ops.temporal_hll_from_rollup(
            self.spark, stored, spec.bounds, spec.fine_ms, parsed.interval_ms,
            p=spec.p, alias=alias, limit=limit, descending=descending,
        )
        # the estimate rounds to a whole count: the raw path's column shape
        return out.withColumn(alias, F.round(F.col(alias)).cast("long"))

    # ------------------------------------------------------------- pruning
    def _prune_shards(self, df, ivs, shard_interval: int):
        """Turn WHERE-implied time intervals into shard_start predicates so
        Catalyst does *partition* pruning, not just row-group skipping
        (NSDb location filtering analogue, ReadNodesSelection.scala:40-49)."""
        pred = None
        for first, last in shard_ranges(ivs, shard_interval):
            p = F.col(SHARD_COL) >= first
            if last is not None:
                p = p & (F.col(SHARD_COL) <= last)
            pred = p if pred is None else (pred | p)
        return df if pred is None else df.filter(pred)

    # ------------------------------------------------------------- retention
    def enforce_retention(self, db: str, ns: str, metric: str) -> list[int]:
        """Drop expired shards (retention eviction, nsdb.conf:145 behaviour —
        call from a scheduler)."""
        retention = self.warehouse.get_info(db, ns, metric)["retention"]
        if not retention:
            return []
        # under the per-metric lock for the same reason as delete(): an
        # in-flight materialize must not register a rollup built over
        # shards this eviction is removing, after the invalidation
        with self.warehouse.metric_lock(db, ns, metric):
            dropped = self.warehouse.drop_shards_older_than(
                db, ns, metric, self.now_fn() - retention
            )
            if dropped:
                # evicted shards change every aggregate — rollups are stale
                self.warehouse.invalidate_rollups(db, ns, metric)
                self._bump_metric_version(db, ns, metric)
            return dropped

    # ------------------------------------------------------------- dump/restore
    # NsdbRestore.scala / restore.proto parity: export a metric as a
    # verified bundle, import it atomically (possibly under a new name).
    # The engine wrapper serializes against the per-metric lock so
    # a dump never snapshots mid-materialization registry state and a
    # restore-with-overwrite never swaps underneath an in-flight write.
    def dump_metric_bundle(self, db: str, ns: str, metric: str, dest: str) -> dict:
        with self.warehouse.metric_lock(db, ns, metric):
            return self.warehouse.dump_metric(db, ns, metric, dest)

    def restore_metric_bundle(
        self,
        bundle: str,
        db: str | None = None,
        ns: str | None = None,
        metric: str | None = None,
        overwrite: bool = False,
    ) -> dict:
        manifest = self.warehouse.restore_metric(
            bundle, db=db, ns=ns, metric=metric, overwrite=overwrite
        )
        # parquet footers may be cached from a pre-overwrite read of the
        # same path — drop them so the first post-restore query sees the
        # restored bytes
        self.spark.catalog.clearCache()
        # a restore can land under ANY metric name (manifest-driven) —
        # drop every cached plan rather than guessing the key
        self.invalidate_plan_caches()
        return manifest

    # ------------------------------------------------------------- compaction
    def compact_metric(
        self,
        db: str,
        ns: str,
        metric: str,
        min_files: int = 4,
    ) -> list[int]:
        """Rewrite fragmented shard partitions into one sorted file each.

        Every insert/streaming batch appends new files; a hot shard
        accumulates hundreds of small parquet files, each spanning its
        own batch's timestamps, degrading scan planning, footer reads and
        row-group skipping at scale. Compaction rewrites each shard
        holding >= min_files files through _shard_writer into one
        timestamp-sorted file of _SHARD_ROW_GROUP_ROWS-row groups, staged
        and swapped in shard by shard (Warehouse.rewrite_shards). Returns the
        compacted shard starts.

        Concurrency contract (no snapshot layer on plain parquet): the
        read, rewrite and swap run under Warehouse.metric_lock, which
        inserts also hold while they publish, so an insert lands before
        the read or after the swap. A query PLANNED before a compaction
        and executed after it reads the old file list — vanished files
        are skipped (ignoreMissingFiles), so such a stale plan can
        silently return fewer rows. Queries through this engine
        plan-and-execute promptly, so the window is the query's own
        runtime; long-lived cached DataFrames must be re-created after
        compaction.
        """
        # under the per-metric lock, like delete() and retention:
        # a materialize/maintenance merge scanning raw data while this
        # rewrite swaps the shards would (via ignoreMissingFiles) build
        # and REGISTER a rollup from a fraction of the data; a delete()
        # committing between our read and swap would be undone (its
        # removed rows written back); an insert publishing in between
        # would be moved aside with the old shard and deleted.
        with self.warehouse.metric_lock(db, ns, metric):
            todo = [
                s for s in self.warehouse.shard_stats(db, ns, metric)
                if s["n_files"] >= min_files
            ]
            if not todo:
                return []
            shards = [s["shard_start"] for s in todo]
            schema = self.warehouse.get_schema(db, ns, metric)
            df = self._scan_shards(self.spark, db, ns, metric, schema)
            self.warehouse.rewrite_shards(
                db, ns, metric, shards,
                self._shard_writer(df.filter(F.col(SHARD_COL).isin(shards))),
            )
            # same rows, new files: cached base frames hold a stale file
            # index (reads survive via ignoreMissingFiles but would
            # silently MISS the rewritten rows)
            self._bump_metric_version(db, ns, metric)
        return shards

    def optimize_metric_zorder(
        self,
        db: str,
        ns: str,
        metric: str,
        cluster_fields: list[str],
        bits: int = 16,
        files_per_shard: int = 4,
    ) -> list[int]:
        """Re-cluster every shard's files along a Z-order of
        `cluster_fields` — data skipping for NON-time predicates.

        The time axis is already covered: shard partitioning prunes
        whole shards and the timestamp sort gives row-group min/max
        skipping inside them (the reference's only layout axis,
        Location.scala:32-33). But a predicate on a tag/dimension (host,
        tenant, region...) still scans every file of the surviving
        shards. This rewrite sorts each shard by the Morton interleave of
        the named fields, so every output file covers a compact
        hyper-rectangle on those columns and parquet column stats skip
        files/row-groups on ANY of them — the lakehouse OPTIMIZE ZORDER
        pattern applied to the NSDb layout. Numeric fields quantize by
        value, strings by a hash bucket. Same staged shard swap,
        concurrency contract and row-group limit (_shard_parquet) as
        compact_metric.
        """
        from .operators.layout import zorder_key

        if not cluster_fields:
            raise SchemaError("zorder needs at least one cluster field")
        if len(cluster_fields) * bits > 63:
            # zorder_key interleaves len(fields)*bits bits into one signed
            # 64-bit key; overflowing into the sign bit corrupts the sort.
            raise SchemaError(
                f"{len(cluster_fields)} cluster fields at {bits} bits/field "
                f"exceeds the 63-bit z-key; use bits <= "
                f"{63 // len(cluster_fields)}"
            )
        schema = self.warehouse.get_schema(db, ns, metric)
        for f in cluster_fields:
            if not schema.has_field(f):
                raise SchemaError(f"unknown cluster field {f}")
        # per-metric lock over listing, read and swap, same
        # rationale as compact_metric: a concurrent materialize scanning
        # mid-swap would register a partial rollup, and a delete swapping
        # a shard after our listing would be undone or its shard dropped
        with self.warehouse.metric_lock(db, ns, metric):
            shards = self.warehouse.locations(db, ns, metric)
            if not shards:
                return []
            df = self._scan_shards(self.spark, db, ns, metric, schema)
            mask = (1 << bits) - 1
            # numeric fields quantize by RANGE position, not by masking the
            # low bits: `v & mask` wraps every `mask+1` values, scattering
            # near-identical values across cells and colliding distant ones
            # — per-file min/max stats then stay wide and skipping gains
            # nothing. One tiny min/max aggregate pins the grid.
            num_fields = [
                f for f in cluster_fields
                if (t := schema.field_type(f)) is not None and t.is_numeric
            ]
            stats = {}
            if num_fields:
                row = df.agg(
                    *[F.min(f).alias(f"lo_{f}") for f in num_fields],
                    *[F.max(f).alias(f"hi_{f}") for f in num_fields],
                ).first()
                stats = {
                    f: (row[f"lo_{f}"], row[f"hi_{f}"]) for f in num_fields
                }
            quant = []
            for f in cluster_fields:
                t = schema.field_type(f)
                if t is not None and t.is_numeric:
                    lo, hi = stats[f]
                    if lo is None or hi == lo:  # empty/constant: one cell
                        quant.append(F.lit(0).cast("long"))
                    else:
                        cell = F.floor(
                            (F.col(f).cast("double") - float(lo))
                            * mask
                            / (float(hi) - float(lo))
                        )
                        quant.append(
                            F.coalesce(
                                F.least(cell, F.lit(mask)), F.lit(0)
                            ).cast("long")
                        )
                else:
                    quant.append(F.abs(F.xxhash64(F.col(f))).bitwiseAND(F.lit(mask)))
            self.warehouse.rewrite_shards(
                db, ns, metric, shards,
                self._shard_parquet(
                    df.withColumn("__z", zorder_key(quant, bits=bits))
                    .repartitionByRange(
                        files_per_shard * len(shards), F.col(SHARD_COL), F.col("__z")
                    )
                    .sortWithinPartitions(SHARD_COL, "__z")
                    .drop("__z")
                ),
            )
            # rewritten files: invalidate cached base frames (see compact_metric)
            self._bump_metric_version(db, ns, metric)
        return shards

    def enforce_all_retentions(self) -> dict[tuple[str, str, str], list[int]]:
        """One eviction sweep over every metric in the warehouse; returns
        the dropped shard starts per (db, ns, metric)."""
        dropped = {}
        for db in self.warehouse.databases():
            for ns in self.warehouse.namespaces(db):
                for metric in self.warehouse.metrics(db, ns):
                    got = self.enforce_retention(db, ns, metric)
                    if got:
                        dropped[(db, ns, metric)] = got
        return dropped

    def start_retention_scheduler(self, interval_s: float = 30.0):
        """Background eviction thread — the reference checks retention every
        30 s (nsdb.conf:145, MetadataCoordinator.scala:335-348). Returns a
        threading.Event; set it to stop the thread."""
        stop = threading.Event()

        def loop() -> None:
            while not stop.wait(interval_s):
                try:
                    self.enforce_all_retentions()
                except Exception:  # keep the scheduler alive; next tick retries
                    _log.exception("retention sweep failed")

        threading.Thread(target=loop, daemon=True).start()
        return stop
