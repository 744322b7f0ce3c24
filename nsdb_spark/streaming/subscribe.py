"""Query subscriptions: historical answer once, then live pushes.

Behaviour parity with PublisherActor (nsdb-core/.../actors/PublisherActor.scala):

- subscribe: execute the statement once (historical payload), register by
  uuid (PublisherActor.scala:136-204).
- plain queries: every inserted record is matched against the predicate and
  pushed immediately (:304-325), by the engine that serves history (NSDb: a
  1-doc in-memory Lucene index; here compiler.arrow_expression, the file
  route's predicate, over a pyarrow table of the published rows).
- standard aggregations: re-executed on a fixed scheduler and pushed in
  full (:205-218, 5 s default, nsdb.conf:140).
- temporal aggregations: records fold into one state per bucket
  (compiler.fold_batch, the file route's fold); on each `tick` crossing a
  bucket boundary the bucket is pushed, then rolls (:220-254). Late records
  within the grace period amend retained late buckets, which are re-pushed
  (:247-298,326-357); records older than `now - grace` are dropped
  (:342-356).
"""
from __future__ import annotations

import copy
import logging
import threading
import uuid as uuid_mod
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .. import analyzer
from ..compiler import (
    TimeContext,
    _final,
    agg_alias,
    arrow_expression,
    compile_expression,
    fold_batch,
    temporal_zero,
)
from ..sql import ast
from ..sql.parser import parse

_log = logging.getLogger(__name__)


def _expr_fields(e: ast.Expression) -> set[str]:
    """Field names a predicate references (for schema-presence checks)."""
    if isinstance(e, ast.NotExpression):
        return _expr_fields(e.expression)
    if isinstance(e, ast.TupledLogicalExpression):
        return _expr_fields(e.expression1) | _expr_fields(e.expression2)
    return {e.dimension}


def _has_relative_time(e: ast.Expression) -> bool:
    """True if the predicate contains a `now ± n` comparison value. Such
    predicates resolve `now` at evaluation time, so an executor-side
    prefilter compiled at batch time could disagree with the in-process
    re-evaluation moments later (a future-window `ts < now + X` would
    wrongly DROP rows the subscription matches by publish time) — the
    tap must fall back to collecting the full batch for them."""
    if isinstance(e, ast.NotExpression):
        return _has_relative_time(e.expression)
    if isinstance(e, ast.TupledLogicalExpression):
        return _has_relative_time(e.expression1) or _has_relative_time(e.expression2)
    vals = []
    for attr in ("value", "value1", "value2"):
        v = getattr(e, attr, None)
        if v is not None:
            vals.append(v)
    return any(isinstance(v, ast.RelativeComparisonValue) for v in vals)


def _kept(table: pa.Table, cond: ast.Condition, now: int) -> list[int]:
    """The indices of the rows of `table` that `cond` keeps on the file
    route (compiler.arrow_expression); "#" is no field name the parser reads."""
    cols = {f: table.column(f) for f in _expr_fields(cond.expression)}
    cols["#"] = np.arange(table.num_rows)
    kept = pa.table(cols).filter(arrow_expression(cond.expression, TimeContext(now)))
    return kept.column("#").to_pylist()


@dataclass
class _Subscription:
    uuid: str
    db: str
    ns: str
    metric: str
    statement: ast.SelectSQLStatement
    parsed: Any
    callback: Callable[[list[dict]], None]
    # temporal state (is_float: a DECIMAL value, as the aggregates see it)
    is_float: bool = False
    bucket_start: int = 0
    buckets: dict[int, list] = field(default_factory=dict)  # upper_bound → [state]
    # rows published while the historical scan is still running are
    # buffered here and routed after it — None once live. Append and
    # swap race (publisher thread vs the subscribing thread's drain), so
    # both happen under pending_lock: an unlocked publisher could observe
    # the list, lose the CPU while subscribe() drains it, then append to
    # the orphaned list — exactly the lost update this buffer exists to
    # prevent.
    pending: list | None = None
    pending_lock: threading.Lock = field(default_factory=threading.Lock)
    # serializes _route/_accumulate_temporal and tick's bucket close for
    # this subscription: publishers are concurrent HTTP threads, and
    # unsynchronized interleaving corrupts sub.buckets / reorders pushes
    route_lock: threading.Lock = field(default_factory=threading.Lock)


class SubscriptionChannel:
    """Queue + condition bridging SubscriptionManager callbacks to one
    reader (an HTTP long-poll subscription or a gRPC stream). BOUNDED like
    the WS path's retention_size: an abandoned subscription or a stalled
    reader (a gRPC sender blocked on flow control) must not accumulate
    every matching insert forever — past the cap new batches are dropped
    (the reference's OverflowStrategy.dropNew)."""

    MAX_BATCHES = 1000

    def __init__(self) -> None:
        self.batches: list[list[dict]] = []
        self.cond = threading.Condition()

    def push(self, records: list[dict]) -> None:
        with self.cond:
            if len(self.batches) < self.MAX_BATCHES:
                self.batches.append(records)
            self.cond.notify_all()

    def drain(self, timeout_s: float) -> list[list[dict]]:
        with self.cond:
            if not self.batches:
                self.cond.wait(timeout=timeout_s)
            out, self.batches = self.batches, []
            return out


class SubscriptionManager:
    """Registry of live query subscriptions fed by the engine's write path."""

    def __init__(self, engine, refresh_period_ms: int = 100, agg_push_period_ms: int = 5000):
        self.engine = engine
        self.subs: dict[str, _Subscription] = {}
        self.refresh_period_ms = max(refresh_period_ms, 100)  # nsdb.conf:161 floor
        self.agg_push_period_ms = agg_push_period_ms
        self._scheduler_stop = None

    def start_scheduler(self) -> None:
        """Drive tick() every agg_push_period_ms on a daemon thread —
        NSDb's publisher scheduler (nsdb.conf:140). The HTTP/WS servers
        call this so standard-agg re-pushes and temporal bucket closes
        happen without a caller in the loop; tests drive tick() manually
        and never start it. Idempotent; stop_scheduler() to halt."""
        import threading

        if self._scheduler_stop is not None:
            return
        stop = threading.Event()
        self._scheduler_stop = stop

        def loop() -> None:
            while not stop.wait(self.agg_push_period_ms / 1000.0):
                try:
                    self.tick()
                except Exception:  # keep the beat alive; next tick retries
                    _log.exception("subscription scheduler tick failed")

        threading.Thread(target=loop, daemon=True).start()

    def stop_scheduler(self) -> None:
        if self._scheduler_stop is not None:
            self._scheduler_stop.set()
            self._scheduler_stop = None

    # ------------------------------------------------------------ subscribe
    def subscribe(
        self,
        sql: str,
        callback: Callable[[list[dict]], None],
        db: str = "default",
        ns: str = "default",
        time_context: TimeContext | None = None,
        statement: ast.SelectSQLStatement | None = None,
    ) -> str:
        """Register a live query. `statement` overrides `sql` when the
        caller already parsed/enriched one (the WS RegisterQuery path,
        where from/to/filters are ANDed in by engine.enrich_statement)."""
        stmt = statement if statement is not None else parse(sql, db=db, namespace=ns)
        if not isinstance(stmt, ast.SelectSQLStatement):
            raise ValueError("only SELECT statements can be subscribed")
        schema = self.engine.warehouse.get_schema(db, ns, stmt.metric)
        parsed = analyzer.analyze(stmt, schema)
        ctx = time_context or TimeContext(self.engine.now_fn())
        sub = _Subscription(
            uuid=str(uuid_mod.uuid4()),
            db=db, ns=ns, metric=stmt.metric,
            statement=stmt, parsed=parsed, callback=callback,
            is_float=pa.types.is_floating(schema.value_type.arrow_type),
            pending=[],
        )
        if isinstance(parsed, analyzer.ParsedTemporalAggregatedQuery):
            sub.bucket_start = ctx.current_time
        # register BEFORE the historical scan: rows inserted while the
        # scan runs are buffered (publish() routes to sub.pending) and
        # flushed after the historical payload — without this they are
        # neither in the scan nor pushed, a silently lost update. A row
        # the scan's file listing already caught may be delivered twice
        # (at-least-once in the race window); the reference loses it
        # instead (PublisherActor executes-then-registers).
        self.subs[sub.uuid] = sub
        try:
            # collect_select, not execute_select().collect(): the
            # historical rows land in the engine's token-guarded result
            # cache, so the first no-write tick of a standard-agg
            # subscription is already a zero-job cache hit
            historical = [
                r.asDict() for r in self.engine.collect_select(stmt, ctx)
            ]
            callback(historical)
        except Exception:
            self.subs.pop(sub.uuid, None)
            raise
        # drain-until-empty: go live (pending=None) only in the same
        # critical section that observes the buffer empty — otherwise a
        # batch published during the drain is routed by a publisher
        # thread AFTER newer direct-path batches (out-of-order delivery)
        while True:
            with sub.pending_lock:
                if not sub.pending:
                    sub.pending = None
                    break
                buffered, sub.pending = sub.pending, []
            for rows, table, now in buffered:
                self._route(sub, rows, table, now)
        return sub.uuid

    def unsubscribe(self, uuid: str) -> None:
        self.subs.pop(uuid, None)

    # ------------------------------------------------------------ write tap
    def batch_predicate(self, db: str, ns: str, metric: str, batch_columns: list[str]):
        """Executor-side pre-filter for the ingest publish tap.

        Returns None if no subscription consumes this metric's writes
        (tap collects nothing), True if some subscription needs every row
        (unconditioned plain query, or a predicate referencing a field the
        batch lacks — publish() resolves absent-as-null in-process), else
        a pyspark Column matching the UNION of the registered plain +
        temporal predicates. The ingest path filters ON EXECUTORS with it
        and collects only the matching rows — publish() then routes each
        row to its subscription by re-evaluating the per-sub predicate on
        that small superset. Without this, every ingested batch would
        funnel through the driver whenever any subscription exists — the
        scale-killer flagged in round 1; NSDb itself routes every bit
        through PublisherActor, but Spark's analogue of "the actor sees
        the stream" is a distributed filter, not a driver collect."""
        now = self.engine.now_fn()
        ctx = TimeContext(now)
        conds = []
        relevant = False
        # list(): a concurrent subscribe() mutates the dict, and this runs
        # on the streaming micro-batch thread (publish/tick already copy)
        for sub in list(self.subs.values()):
            if (sub.db, sub.ns, sub.metric) != (db, ns, metric):
                continue
            if not isinstance(
                sub.parsed,
                (analyzer.ParsedSimpleQuery, analyzer.ParsedTemporalAggregatedQuery),
            ):
                continue  # standard aggs re-execute on tick(); no tap rows
            relevant = True
            cond = sub.statement.condition
            if cond is None:
                return True
            if not _expr_fields(cond.expression) <= set(batch_columns):
                return True
            if _has_relative_time(cond.expression):
                return True  # now-relative window: see _has_relative_time
            conds.append(compile_expression(cond.expression, ctx))
        if not relevant:
            return None
        out = conds[0]
        for c in conds[1:]:
            out = out | c
        return out

    def publish(self, db: str, ns: str, metric: str, rows: list[dict]) -> None:
        """Called by the ingest path for every batch of inserted records.
        The subscriptions that filter or aggregate share one pyarrow table
        of them under the registry schema (publishers insert first); a
        field a row lacks reads NULL, as on the file route."""
        now = self.engine.now_fn()
        subs = [
            s for s in list(self.subs.values()) if (s.db, s.ns, s.metric) == (db, ns, metric)
        ]
        table = None
        if any(
            s.statement.condition is not None
            or isinstance(s.parsed, analyzer.ParsedTemporalAggregatedQuery)
            for s in subs
        ):
            schema = self.engine.warehouse.get_schema(db, ns, metric)
            table = pa.Table.from_pylist(rows, schema=schema.to_arrow_schema())
        for sub in subs:
            with sub.pending_lock:
                if sub.pending is not None:  # historical scan in flight
                    sub.pending.append((rows, table, now))
                    continue
            self._route(sub, rows, table, now)

    def _route(
        self, sub: _Subscription, rows: list[dict], table: pa.Table | None, now: int
    ) -> None:
        cond = sub.statement.condition
        try:
            with sub.route_lock:
                if isinstance(sub.parsed, analyzer.ParsedSimpleQuery):
                    kept = range(len(rows)) if cond is None else _kept(table, cond, now)
                    # the published dicts themselves: the payload keeps its shape
                    matched = [rows[i] for i in kept]
                    if matched:
                        sub.callback(matched)
                elif isinstance(sub.parsed, analyzer.ParsedTemporalAggregatedQuery):
                    self._accumulate_temporal(sub, table, now)
        except Exception:
            # per-sub isolation, as in tick(): the rows are already
            # written, so a failing subscription (a broken callback) must
            # neither fail the write nor starve the subscriptions after it
            _log.exception("publish failed for subscription %s", sub.uuid)

    def _accumulate_temporal(self, sub: _Subscription, table: pa.Table, now: int) -> None:
        p = sub.parsed
        start, width, grace = sub.bucket_start, p.interval_ms, p.grace_period_ms
        ts = pc.field("timestamp")
        # without a grace period, late records drop: amendment of closed
        # buckets is a grace-period feature (and their buckets were
        # already released — see tick); with one, records older than
        # now - grace drop (PublisherActor.scala:342-356)
        keep = ts > start if grace is None else ts >= now - grace
        # a NULL (or absent) aggregation target is skipped by every
        # aggregate, as count(tag) skips NULL tags on the batch path
        keep &= pc.field(p.aggregation.target).is_valid()
        if sub.statement.condition is not None:
            keep &= arrow_expression(sub.statement.condition.expression, TimeContext(now))
        table = table.filter(keep)
        # upper-INCLUSIVE buckets (lb, ub], matching the compiled
        # historical axis (compiler: floor((upper-ts)/interval)) — a
        # boundary timestamp must land in the same bucket live as a
        # re-subscription would report it historically
        ubs = start - (start - table.column("timestamp").to_numpy()) // width * width
        fold_batch(sub.buckets, {"k": pa.array(ubs)}, table, [p.aggregation], sub.is_float)
        # amend only buckets tick() has actually CLOSED and pushed
        # (ub <= bucket_start). `ub <= now` would fire a bogus amended
        # push for an elapsed-but-unpushed bucket, which the next tick
        # would then deliver AGAIN unamended.
        for ub in sorted(set(ubs[ubs <= start].tolist())):
            sub.callback([self._bucket_payload(sub, ub, amended=True)])

    def _bucket_payload(self, sub: _Subscription, ub: int, amended: bool = False) -> dict:
        p = sub.parsed
        a = p.aggregation
        (state,) = sub.buckets.get(ub, [None])
        value = _final(a, sub.is_float, state)
        return {
            "timestamp": ub,
            "lower_bound": ub - p.interval_ms,
            "upper_bound": ub,
            agg_alias(a): temporal_zero(a, sub.is_float) if value is None else value,
            "amended": amended,
        }

    # ------------------------------------------------------------ scheduler
    def tick(self, now_ms: int | None = None) -> None:
        """Advance time: close+push due temporal buckets, re-run standard
        aggregations (call this from a scheduler; tests call it directly)."""
        now = now_ms if now_ms is not None else self.engine.now_fn()
        # standard aggregations coalesce by statement fingerprint: N
        # identical subscribed statements execute ONCE per tick and fan
        # the result out (the reference re-executes per subscription —
        # PublisherActor.scala:205-218 — so this is an improvement, not
        # a parity constraint; same now ⇒ identical results by definition)
        agg_groups: dict[str, list] = {}
        for sub in list(self.subs.values()):
            # a sub still in its historical phase (pending buffer active)
            # must not receive tick pushes: its transport treats the FIRST
            # callback as the historical payload, so a tick firing during
            # the multi-second historical scan would be delivered as a
            # bogus "historical" result (publish() parks into pending; a
            # direct callback here would bypass that ordering). Skipping
            # is lossless — the next tick closes every due bucket / re-runs
            # the aggregate from live state.
            with sub.pending_lock:
                if sub.pending is not None:
                    continue
            if isinstance(
                sub.parsed,
                (analyzer.ParsedAggregatedQuery, analyzer.ParsedGlobalAggregatedQuery),
            ):
                agg_groups.setdefault(repr(sub.statement), []).append(sub)
                continue
            try:
                self._tick_one(sub, now)
            except Exception:
                # per-sub isolation: one failing subscription (a broken
                # callback, a dropped metric) must not abort the loop and
                # silently starve every subscription iterated after it —
                # the scheduler's keep-the-beat-alive except would hide
                # that starvation forever
                _log.exception("tick failed for subscription %s", sub.uuid)
        for group in agg_groups.values():
            # re-execution + push (PublisherActor.scala:205-218), once per
            # DISTINCT statement — through collect_select, so a tick with
            # NO intervening write serves the engine's token-guarded
            # result cache with ZERO Spark jobs (every mutator bumps the
            # token; relative-time / grace statements bypass that cache
            # inside collect_select itself and still re-execute). Payloads
            # are identical either way: same fingerprint, same token ⇒
            # the exact rows the last execution pushed.
            try:
                rows = [
                    r.asDict()
                    for r in self.engine.collect_select(
                        group[0].statement, TimeContext(now)
                    )
                ]
            except Exception:
                for sub in group:
                    _log.exception("tick failed for subscription %s", sub.uuid)
                continue
            for sub in group:
                try:
                    # deep copy per subscriber: a callback mutating its
                    # payload — including NESTED array/map aggregate
                    # values, which a shallow dict copy would share —
                    # must not leak into its siblings'
                    sub.callback(copy.deepcopy(rows))
                except Exception:
                    _log.exception("tick failed for subscription %s", sub.uuid)

    def _tick_one(self, sub: _Subscription, now: int) -> None:
        if isinstance(sub.parsed, analyzer.ParsedTemporalAggregatedQuery):
            p = sub.parsed
            with sub.route_lock:  # vs concurrent publish accumulation
                while sub.bucket_start + p.interval_ms <= now:
                    ub = sub.bucket_start + p.interval_ms
                    sub.callback([self._bucket_payload(sub, ub)])
                    sub.bucket_start = ub
                    if p.grace_period_ms is not None:
                        # drop buckets beyond the grace horizon
                        horizon = now - p.grace_period_ms
                        for old in [u for u in sub.buckets if u < horizon]:
                            del sub.buckets[old]
                    else:
                        # no grace ⇒ no amendments: release the closed
                        # bucket's state immediately — otherwise a
                        # long-lived subscription keeps one state per
                        # elapsed bucket forever (unbounded driver memory)
                        sub.buckets.pop(ub, None)
        # standard aggregations are handled by tick()'s coalescing loop
        # (one execution per distinct statement, fanned out); plain
        # queries push per-record from publish() and have no tick work
