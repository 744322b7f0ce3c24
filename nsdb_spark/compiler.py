"""Compile ParsedQuery descriptors into DataFrame plans.

Design (SURVEY.md §7.0): build the plan declaratively with pyspark.sql
functions only — Catalyst then does predicate/partition pruning, column
pruning, partial+final aggregation and top-k limit for free (SURVEY.md §4).
No RDDs, no Python UDFs anywhere on this path: every expression stays inside
whole-stage codegen.

Semantics parity notes (reference, studied not copied):
- projections always include timestamp+value      (docs/SQL_doc.md:39)
- LIKE wildcard `$`; `?` is a literal             (ExpressionParser.scala:110-120)
- IN (a,b) = inclusive BETWEEN                    (SQLStatement.scala:96-101)
- relative `now ± n unit` resolved once per query (TimeContext, ExpressionParser.scala:45-53)
- temporal buckets aligned BACKWARD from the shard-interval upper bound,
  first (oldest) bucket truncated+closed          (TimeRangeManager.scala:74-90, SURVEY.md §4.3)
- empty temporal buckets ARE emitted with 0       (ReadCoordinatorTemporalAggregatedStatementsSpec)
- temporal LIMIT keeps the *most recent* n buckets when sorted asc, the
  oldest n when sorted desc (takeRight)           (post_proc/package.scala:62-66)
- global count is clamped to LIMIT                (post_proc/package.scala:344-347)
- mixed plain+agg: every returned row carries the final aggregate values
                                                  (post_proc/package.scala:387-394)
- first/last = min_by/max_by(value, timestamp)    (post_proc/package.scala:297-298)
"""
from __future__ import annotations

import re
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .analyzer import (
    ParsedAggregatedQuery,
    ParsedGlobalAggregatedQuery,
    ParsedQuery,
    ParsedSimpleQuery,
    ParsedTemporalAggregatedQuery,
)
from .model import DEFAULT_SHARD_INTERVAL_MS, SHARD_COL, MetricSchema, shard_start
from .sql import ast


@dataclass
class TimeContext:
    """Fixed per-query `now` (parity: nsdb-core/.../model/TimeContext.scala)."""

    current_time: int


def agg_alias(agg: ast.Aggregation) -> str:
    """Canonical output column for an aggregation (NSDb uses tag keys like
    `count(*)`; we use SQL-safe names, same information)."""
    if agg.kind == ast.AGG_COUNT_DISTINCT:
        return f"count_distinct_{agg.target}"
    return f"{agg.kind}_{agg.target}"


# ------------------------------------------------------------------ predicates


def _resolve_value(v: ast.ComparisonValue, ctx: TimeContext):
    if isinstance(v, ast.RelativeComparisonValue):
        return v.resolve(ctx.current_time)
    return v.value


def like_to_regex(pattern: str) -> str:
    """NSDb LIKE → anchored regex: `$` = any sequence, everything else literal
    (parity with the Lucene wildcard translation, `?` kept literal —
    ExpressionParser.scala:115 escapes only `?`).

    Deliberate deviation on another unpinned artifact of that line: the
    reference passes a raw `*` (and `\\`) through to Lucene's
    WildcardQuery UNescaped, so a literal `*` in a user pattern silently
    acts as a second any-sequence wildcard there. The documented SQL
    surface defines `$` as THE wildcard (docs/SQL_doc.md), so we treat
    `*` as a literal character; no reference test pins the passthrough."""
    parts = [re.escape(p) for p in pattern.split("$")]
    return "^" + ".*".join(parts) + "$"


def compile_expression(e: ast.Expression, ctx: TimeContext) -> Column:
    if isinstance(e, ast.EqualityExpression):
        return F.col(e.dimension) == F.lit(_resolve_value(e.value, ctx))
    if isinstance(e, ast.ComparisonExpression):
        c, v = F.col(e.dimension), F.lit(_resolve_value(e.value, ctx))
        return {">": c > v, ">=": c >= v, "<": c < v, "<=": c <= v}[e.operator]
    if isinstance(e, ast.RangeExpression):
        return F.col(e.dimension).between(
            F.lit(_resolve_value(e.value1, ctx)), F.lit(_resolve_value(e.value2, ctx))
        )
    if isinstance(e, ast.LikeExpression):
        return F.col(e.dimension).rlike(like_to_regex(e.value))
    if isinstance(e, ast.NullableExpression):
        c = F.col(e.dimension)
        return c.isNotNull() if e.negated else c.isNull()
    if isinstance(e, ast.NotExpression):
        inner = compile_expression(e.expression, ctx)
        # SQL three-valued NOT would drop NULL rows; NSDb's NOT is index
        # complement: rows where the inner predicate is not satisfied.
        return ~F.coalesce(inner, F.lit(False))
    if isinstance(e, ast.TupledLogicalExpression):
        l = compile_expression(e.expression1, ctx)
        r = compile_expression(e.expression2, ctx)
        return (l & r) if e.operator == "and" else (l | r)
    raise TypeError(f"unknown expression {e!r}")


def arrow_expression(e: ast.Expression, ctx: TimeContext) -> pc.Expression:
    """compile_expression's pyarrow twin, for the point reads the engine
    serves from the shard files: the same predicate as a pyarrow.compute
    expression, under Spark's semantics where Arrow's differ. AND/OR are
    Kleene on both sides; NOT is the complement of coalesce(inner, false);
    LIKE matches like_to_regex, whose every literal is escaped, so RE2
    reads it as Java does (a value holding a line break aside: Java's `.`
    and `$` treat a CR and a final LF specially). `>` and `>=` are the
    complements of `<=` and `<`: Spark orders NaN above every number, and
    Arrow compares it as IEEE does, false either way."""
    if isinstance(e, ast.EqualityExpression):
        return pc.field(e.dimension) == _resolve_value(e.value, ctx)
    if isinstance(e, ast.ComparisonExpression):
        c, v = pc.field(e.dimension), _resolve_value(e.value, ctx)
        return {">": ~(c <= v), ">=": ~(c < v), "<": c < v, "<=": c <= v}[e.operator]
    if isinstance(e, ast.RangeExpression):
        c = pc.field(e.dimension)
        return (c >= _resolve_value(e.value1, ctx)) & (c <= _resolve_value(e.value2, ctx))
    if isinstance(e, ast.LikeExpression):
        return pc.match_substring_regex(pc.field(e.dimension), like_to_regex(e.value))
    if isinstance(e, ast.NullableExpression):
        c = pc.field(e.dimension)
        return c.is_valid() if e.negated else c.is_null()
    if isinstance(e, ast.NotExpression):
        return ~pc.coalesce(arrow_expression(e.expression, ctx), pc.scalar(False))
    if isinstance(e, ast.TupledLogicalExpression):
        l = arrow_expression(e.expression1, ctx)
        r = arrow_expression(e.expression2, ctx)
        return (l & r) if e.operator == "and" else (l | r)
    raise TypeError(f"unknown expression {e!r}")


def projection(schema: MetricSchema, fields: list[str]) -> list[str]:
    """The columns of a plain SELECT, in output order: every field when
    `fields` is empty, else timestamp and value (always included,
    docs/SQL_doc.md:39) then the named fields."""
    if not fields:
        return schema.all_field_names()
    return ["timestamp", "value"] + [f for f in fields if f not in ("timestamp", "value")]


# ------------------------------------------------ shard-file aggregation
# The pyarrow twin of compile()'s three aggregate classes, for the
# shard-pruned aggregates the engine reads from the shard files (the
# reference's per-shard facet reads reduced by post_proc, SURVEY.md §2.5).
# Each scanned batch is reduced to per-group partials by pyarrow's hash
# aggregation, and the partials are merged in one combine map keyed by
# group (or bucket), so memory holds one state per group, never the rows.
# Where Arrow's semantics differ from Spark's, the partials follow Spark:
# NaN sorts above every number (Arrow's min/max skip it), grouping keys and
# distinct values treat -0.0 as 0.0 and every NaN as one value (Arrow
# splits them), and a BIGINT sum is exact and raises on overflow as the
# ANSI sum does (Arrow's wraps).

#: hash-aggregate options that skip NULLs (count(tag), count distinct)
_VALID = pc.CountOptions(mode="only_valid")

#: the one NaN grouping keys and distinct values map to: dict and set
#: lookups compare identity first, so every NaN lands in one entry
_NAN = float("nan")

_LONG_MIN, _LONG_MAX = -(1 << 63), (1 << 63) - 1


def _spark_key(v):
    """A grouping key or distinct value as Spark compares it."""
    if isinstance(v, float):
        if v != v:
            return _NAN
        if v == 0:
            return 0.0
    return v


def _spark_order(v) -> tuple:
    """Sort key of Spark's ascending order: NULL first, NaN above every
    number (reversed, it is the descending order, NULL last)."""
    if v is None:
        return (0, False, 0)
    if isinstance(v, float) and v != v:
        return (1, True, 0.0)
    return (1, False, v)


def _nan_min(vals):
    """Spark's min: NaN only when every value is NaN; None when empty."""
    real = [v for v in vals if v == v]
    return min(real) if real else (_NAN if vals else None)


def _agg_inputs(a: ast.Aggregation, i: int, batch, is_float: bool):
    """({input name: column}, [(input, hash aggregate, options)]) of one
    aggregation's per-batch partial (the batch of first/last is sorted on
    timestamp, so the hash `first` is min_by/max_by on it)."""
    v = batch.column(a.target)
    name = f"a{i}"
    if a.kind == ast.AGG_COUNT:
        return {name: v}, [(name, "count", _VALID)]
    if a.kind == ast.AGG_COUNT_DISTINCT:
        return {name: v}, [(name, "distinct", _VALID)]
    if a.kind == ast.AGG_SUM and not is_float:
        # 32-bit halves: neither half's batch sum can wrap, and their
        # Python-int recombination is exact
        v = v.cast(pa.int64())
        return (
            {name: pc.bit_wise_and(v, 0xFFFFFFFF), f"h{i}": pc.shift_right(v, 32)},
            [(name, "sum", None), (f"h{i}", "sum", None)],
        )
    if a.kind == ast.AGG_SUM:
        return {name: v}, [(name, "sum", None)]
    if a.kind == ast.AGG_AVG:
        return {name: v.cast(pa.float64())}, [(name, "sum", None), (name, "count", None)]
    if a.kind in (ast.AGG_MIN, ast.AGG_MAX):
        fn = "min" if a.kind == ast.AGG_MIN else "max"
        if not is_float:
            return {name: v}, [(name, fn, None)]
        nan = pc.is_nan(v)
        return (
            {name: pc.if_else(nan, pa.scalar(None, v.type), v), f"n{i}": nan},
            [(name, fn, None), (f"n{i}", "any", None)],
        )
    # first / last
    return (
        {name: v, f"t{i}": batch.column("timestamp")},
        [(name, "first", None), (f"t{i}", "first", None)],
    )


def _merge(kind: str, is_float: bool, state, p):
    """One aggregation's state merged with a batch partial `p` (the hash
    aggregate outputs of _agg_inputs, in order)."""
    if kind == ast.AGG_COUNT_DISTINCT:
        state = set() if state is None else state
        state.update(_spark_key(x) for x in p[0])
        return state
    if kind == ast.AGG_SUM and not is_float:
        p = (p[1] << 32) + p[0]
    elif kind in (ast.AGG_COUNT, ast.AGG_SUM):
        p = p[0]
    elif kind in (ast.AGG_MIN, ast.AGG_MAX) and not is_float:
        p = p[0]
    if state is None:
        return p
    if kind in (ast.AGG_COUNT, ast.AGG_SUM):
        return state + p
    if kind == ast.AGG_AVG:
        return (state[0] + p[0], state[1] + p[1])
    if kind in (ast.AGG_MIN, ast.AGG_MAX):
        pick = min if kind == ast.AGG_MIN else max
        if not is_float:
            return pick(state, p)
        m = [x for x in (state[0], p[0]) if x is not None]
        return (pick(m) if m else None, state[1] or p[1])
    # first keeps the earlier timestamp, last the later
    earlier = p[1] < state[1]
    return p if earlier == (kind == ast.AGG_FIRST) else state


def _final(a: ast.Aggregation, is_float: bool, state):
    """The output value of a merged state; None when no row reached it
    (sum 0, avg 0.0 and the counts 0, as the Spark route coalesces them)."""
    if a.kind in (ast.AGG_COUNT, ast.AGG_COUNT_DISTINCT):
        return 0 if state is None else len(state) if a.kind == ast.AGG_COUNT_DISTINCT else state
    if a.kind == ast.AGG_SUM:
        if state is None:
            return 0.0 if is_float else 0
        if not is_float and not _LONG_MIN <= state <= _LONG_MAX:
            from pyspark.errors import ArithmeticException

            raise ArithmeticException(
                message=f"[ARITHMETIC_OVERFLOW] long overflow in sum({a.target})"
            )
        return state
    if a.kind == ast.AGG_AVG:
        return state[0] / state[1] if state else 0.0
    if state is None:
        return None
    if a.kind in (ast.AGG_MIN, ast.AGG_MAX) and is_float:
        m, nan = state
        if nan and (a.kind == ast.AGG_MAX or m is None):
            return _NAN
        return m
    if a.kind in (ast.AGG_FIRST, ast.AGG_LAST):
        return state[0]
    return state


def fold_batch(states: dict, keys: dict, batch, aggs, is_float: bool) -> None:
    """Fold one record batch into `states`, {group key (a tuple for several
    `keys` columns): one state per aggregation}: pyarrow's hash aggregate
    reduces the batch to per-group partials, each merged into its state."""
    inputs, specs = dict(keys), []
    for i, a in enumerate(aggs):
        cols, spec = _agg_inputs(a, i, batch, is_float)
        inputs.update(cols)
        specs.append(spec)
    grouped = pa.table(inputs).group_by(list(keys), use_threads=False).aggregate(
        [s for spec in specs for s in spec]
    )
    key_cols = [grouped.column(n).to_pylist() for n in keys]
    partials = [
        [grouped.column(f"{col}_{fn}").to_pylist() for col, fn, _ in spec]
        for spec in specs
    ]
    for r, key in enumerate(zip(*key_cols)):
        key = tuple(_spark_key(k) for k in key)
        st = states.setdefault(key if len(key) > 1 else key[0], [None] * len(aggs))
        for i, a in enumerate(aggs):
            st[i] = _merge(a.kind, is_float, st[i], tuple(c[r] for c in partials[i]))


def temporal_zero(a: ast.Aggregation, is_float: bool):
    """The value of a temporal bucket no row reached: 0, or 0.0 for every
    avg and a DECIMAL sum, min or max."""
    return 0.0 if a.kind == ast.AGG_AVG or is_float and a.kind in (
        ast.AGG_SUM, ast.AGG_MIN, ast.AGG_MAX
    ) else 0


def aggregate_columns(parsed: ParsedQuery) -> list[str]:
    """The columns an aggregate reads from the shard files."""
    if isinstance(parsed, ParsedGlobalAggregatedQuery):
        aggs, cols = parsed.aggregations, set()
    else:
        aggs = [parsed.aggregation]
        cols = (
            {parsed.group_field} if isinstance(parsed, ParsedAggregatedQuery)
            else {"timestamp"}
        )
    cols.update(a.target for a in aggs)
    if any(a.kind in (ast.AGG_FIRST, ast.AGG_LAST) for a in aggs):
        cols.add("timestamp")
    return sorted(cols)


def arrow_aggregate(
    parsed: ParsedQuery,
    schema: MetricSchema,
    batches,
    ctx: TimeContext,
    locations: list[int],
    shard_interval_ms: int,
) -> tuple[list[str], list[tuple]]:
    """(columns, rows) of a tag group-by, global or temporal aggregate
    over `batches` (record batches holding its aggregate_columns, already
    filtered on its WHERE), as compile() computes them on Spark: the same
    columns in the same order, every cell of the Python type Spark's
    collect returns, and the same ORDER BY, LIMIT and empty-input rules
    (global count clamped to LIMIT; temporal empty buckets 0, takeRight
    LIMIT and the zero-skipping per-(bucket, shard) min). `locations` are
    the metric's shard starts, whose extent bounds the temporal axis."""
    stmt = parsed.statement
    if isinstance(parsed, ParsedGlobalAggregatedQuery):
        aggs = parsed.aggregations
    else:
        aggs = [parsed.aggregation]
    is_float = pa.types.is_floating(schema.value_type.arrow_type)
    segs = None
    if isinstance(parsed, ParsedTemporalAggregatedQuery):
        ivs = extract_time_range(stmt.condition.expression if stmt.condition else None, ctx)
        eff = temporal_axis(
            parsed, ctx, ivs, min(locations), max(locations) + shard_interval_ms
        ) if locations else []
        if not eff:
            return _temporal_columns(aggs[0]), []
        segs = bucket_segments(eff, parsed.interval_ms)
    # the zero-skipping temporal min folds per (bucket, shard) first
    quirk = segs is not None and aggs[0].kind == ast.AGG_MIN
    states: dict = {}
    for batch in batches:
        if aggs[0].kind in (ast.AGG_FIRST, ast.AGG_LAST):
            order = "ascending" if aggs[0].kind == ast.AGG_FIRST else "descending"
            batch = batch.take(pc.sort_indices(batch, [("timestamp", order)]))
        if segs is not None:
            k = _arrow_bucket(batch.column("timestamp"), segs, parsed.interval_ms)
            on_axis = pc.is_valid(k)
            batch, keys = batch.filter(on_axis), {"k": k.filter(on_axis)}
            if quirk:
                keys["s"] = pc.multiply(
                    pc.divide(batch.column("timestamp"), shard_interval_ms),
                    shard_interval_ms,
                )
        elif isinstance(parsed, ParsedAggregatedQuery):
            keys = {"k": batch.column(parsed.group_field)}
        else:
            keys = {"k": pa.nulls(batch.num_rows, pa.int8())}
        fold_batch(states, keys, batch, aggs, is_float)
    if segs is not None:
        return _temporal_rows(parsed, states, segs, quirk, is_float)
    if isinstance(parsed, ParsedGlobalAggregatedQuery):
        st = states.get(None, [None] * len(aggs))
        row = [_final(a, is_float, s) for a, s in zip(aggs, st)]
        if stmt.limit:
            row = [
                min(v, stmt.limit.value) if a.kind == ast.AGG_COUNT else v
                for a, v in zip(aggs, row)
            ]
        return [agg_alias(a) for a in aggs], [tuple(row)]
    return _group_rows(parsed, states, is_float)


def _arrow_bucket(ts, segs, width: int):
    """The global backward bucket index of each timestamp (NULL off the
    axis), compile()'s bucket_index per segment."""
    k = pa.scalar(None, pa.int64())
    for off, lower, upper, n in segs:
        local = pc.min_element_wise(pc.divide(pc.subtract(upper, ts), width), n - 1)
        k = pc.if_else(
            pc.and_(pc.greater_equal(ts, lower), pc.less_equal(ts, upper)),
            pc.add(local, off), k,
        )
    return k


def _group_rows(parsed: ParsedAggregatedQuery, states: dict, is_float: bool):
    stmt = parsed.statement
    a = parsed.aggregation
    columns = [parsed.group_field, agg_alias(a)]
    rows = []
    for key, (st,) in states.items():
        value = _final(a, is_float, st)
        if a.kind in (ast.AGG_FIRST, ast.AGG_LAST):
            rows.append((key, value, st[1]))
        else:
            rows.append((key, value))
    if a.kind in (ast.AGG_FIRST, ast.AGG_LAST):
        columns.append("timestamp")
    if stmt.order:
        # ORDER BY value sorts by the aggregate, else by the group field
        at = 1 if stmt.order.dimension == "value" else 0
        rows.sort(key=lambda r: _spark_order(r[at]), reverse=stmt.order.descending)
    if stmt.limit:
        rows = rows[: stmt.limit.value]
    return columns, rows


def _temporal_columns(a: ast.Aggregation) -> list[str]:
    return ["timestamp", "lower_bound", "upper_bound", agg_alias(a)]


def _temporal_rows(parsed, states: dict, segs, quirk: bool, is_float: bool):
    stmt = parsed.statement
    a = parsed.aggregation
    width = parsed.interval_ms
    if quirk:
        # reference quirk (post_proc/package.scala:170-176), as
        # _temporal_agg: zero (bucket, shard) partial minima are dropped
        # unless every partial is zero
        shard_min: dict = {}
        for (k, _), (st,) in states.items():
            shard_min.setdefault(k, []).append(_final(a, is_float, st))
        values = {k: _nan_min([p for p in ps if p != 0]) for k, ps in shard_min.items()}
    else:
        values = {k: _final(a, is_float, st) for k, (st,) in states.items()}
    zero = temporal_zero(a, is_float)
    n = segs[-1][0] + segs[-1][3]
    desc = bool(stmt.order and stmt.order.descending and stmt.order.dimension == "timestamp")
    lo, hi = 0, n
    if stmt.limit:
        # takeRight of the time-sorted axis, as axis_join
        lo, hi = (max(n - stmt.limit.value, 0), n) if desc else (0, min(stmt.limit.value, n))
    rows = []
    for off, lower, upper, nb in segs:
        for i in range(max(lo - off, 0), min(hi - off, nb)):
            ub = upper - i * width
            v = values.get(off + i)
            rows.append((ub, max(ub - width, lower), ub, zero if v is None else v))
    # segments and their buckets run newest first
    if not desc:
        rows.reverse()
    return _temporal_columns(a), rows


# ------------------------------------------------- parameterized-SQL serving

def _sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def sql_expression(e: ast.Expression, ctx: TimeContext, args: dict) -> str:
    """compile_expression's parameterized-SQL twin, for the point-serving
    route: renders the SAME predicate as Spark SQL text with named
    parameter markers — every literal travels in `args` and is typed
    JVM-side by spark.sql, so no user value is ever string-interpolated.
    Building one SQL string costs ONE py4j roundtrip at spark.sql() time,
    versus ~2 roundtrips per Column node here (the uncached point-query
    floor was dominated by that chatter, BASELINE.md decomposition).
    Kept adjacent to compile_expression so the two stay reviewably in
    lockstep; tests/test_engine.py grid + the hypothesis parity test in
    test_properties.py pin route equivalence clause by clause."""

    def bind(v) -> str:
        return bind_named(args, v)

    if isinstance(e, ast.EqualityExpression):
        return f"{_sql_ident(e.dimension)} = {bind(_resolve_value(e.value, ctx))}"
    if isinstance(e, ast.ComparisonExpression):
        return (
            f"{_sql_ident(e.dimension)} {e.operator} "
            f"{bind(_resolve_value(e.value, ctx))}"
        )
    if isinstance(e, ast.RangeExpression):
        lo = bind(_resolve_value(e.value1, ctx))
        hi = bind(_resolve_value(e.value2, ctx))
        return f"{_sql_ident(e.dimension)} BETWEEN {lo} AND {hi}"
    if isinstance(e, ast.LikeExpression):
        return f"{_sql_ident(e.dimension)} RLIKE {bind(like_to_regex(e.value))}"
    if isinstance(e, ast.NullableExpression):
        return f"{_sql_ident(e.dimension)} IS {'NOT ' if e.negated else ''}NULL"
    if isinstance(e, ast.NotExpression):
        # index-complement NOT, exactly as compile_expression: NULL
        # inner verdicts count as "not satisfied", not as unknown
        inner = sql_expression(e.expression, ctx, args)
        return f"(NOT coalesce(({inner}), false))"
    if isinstance(e, ast.TupledLogicalExpression):
        l = sql_expression(e.expression1, ctx, args)
        r = sql_expression(e.expression2, ctx, args)
        return f"(({l}) {'AND' if e.operator == 'and' else 'OR'} ({r}))"
    raise TypeError(f"unknown expression {e!r}")


def serving_sql(
    parsed: ParsedSimpleQuery,
    schema: MetricSchema,
    ctx: TimeContext,
    view: str,
    shards: list[tuple[int, int | None]],
) -> tuple[str, dict]:
    """One parameterized SQL statement equivalent to the plain
    non-DISTINCT pipeline compile()/_simple builds Column-by-Column:
    projection (timestamp+value always), the shard_ranges() conjunct
    `shards` ANDed into the SAME WHERE as the condition, ORDER BY,
    LIMIT. The engine's point route feeds this to
    serving_session.sql(text, args) — a single py4j roundtrip replaces
    the per-node Column construction chatter that dominated the uncached
    point-statement floor."""
    stmt = parsed.statement
    args: dict = {}
    cols = projection(schema, parsed.fields)
    parts = [f"SELECT {', '.join(_sql_ident(c) for c in cols)} FROM {_sql_ident(view)}"]
    conjuncts = []
    if shards:
        ors = []
        for first, last in shards:
            p = f"{_sql_ident(SHARD_COL)} >= {bind_named(args, first)}"
            if last is not None:
                p = f"({p} AND {_sql_ident(SHARD_COL)} <= {bind_named(args, last)})"
            ors.append(p)
        conjuncts.append("(" + " OR ".join(ors) + ")")
    if stmt.condition is not None:
        conjuncts.append(f"({sql_expression(stmt.condition.expression, ctx, args)})")
    if conjuncts:
        parts.append("WHERE " + " AND ".join(conjuncts))
    if stmt.order is not None:
        parts.append(
            f"ORDER BY {_sql_ident(stmt.order.dimension)} "
            + ("DESC" if stmt.order.descending else "ASC")
        )
    if stmt.limit is not None:
        parts.append(f"LIMIT {int(stmt.limit.value)}")
    return " ".join(parts), args


def bind_named(args: dict, v) -> str:
    """Append v under the next positional name and return its marker."""
    k = f"p{len(args)}"
    args[k] = v
    return ":" + k


# ------------------------------------------------------- time-range extraction

_UNBOUNDED = (0, None)  # timestamps are non-negative in NSDb (Interval lower 0)

#: The provably-empty interval SET (Spire's Interval.empty analogue,
#: TimeRangeManager.scala:56-59: a contradictory AND reduces to the empty
#: interval, which computeRanges then filters out — yielding an EMPTY
#: result, not an unconstrained one). [] keeps meaning "no time
#: constraint"; this marker means "no timestamp can match". Chosen in the
#: negative range so every consumer treats it correctly without a special
#: case: no shard_start (>= 0) falls inside it (pruning drops every shard,
#: DELETE's affected set is empty) and the temporal axis clip yields
#: upper <= lower (empty bucket frame).
_EMPTY_IVS = [(-1, -2)]


def extract_time_range(e: ast.Expression | None, ctx: TimeContext) -> list[tuple[int, int | None]]:
    """Closed intervals over `timestamp` implied by a WHERE expression.

    Mirrors TimeRangeManager.extractTimeRange (TimeRangeManager.scala:33-63):
    =, <, >, <=, >=, IN-range; NOT via complement; AND intersect; OR union.
    Intervals are [lo, hi] with hi=None meaning unbounded above; used for
    partition pruning and temporal bucket bounds. Returns [] for "no time
    constraint" and _EMPTY_IVS for a provably-unsatisfiable constraint
    (e.g. `timestamp >= 60000 and timestamp <= 5000`) — conflating the
    two turned contradictions into full-axis scans: a temporal query
    emitted the entire zero-bucket axis and DELETE rewrote every shard.

    Two DELIBERATE deviations from the reference, both on OR paths its
    own test suite never pins (TimeRangeManagerSpec has no
    disjoint-timestamp-OR case):

    - OR of two DISJOINT timestamp ranges: the reference reduces with
      Spire's `Interval.union` (TimeRangeManager.scala:58-60), whose
      result for disjoint operands is the CONVEX HULL — one interval
      spanning the excluded gap, so its temporal axis emits zero-filled
      buckets inside a range the WHERE excludes, and its shard pruning
      keeps gap-only shards. We keep the TRUE disjoint set (one
      backward-aligned axis per interval, same as the reference's own
      NOT-complement path, which flatMaps `~i` WITHOUT reducing and so
      stays disjoint). Internally consistent, strictly less I/O.
    - OR where one side carries no time constraint (`timestamp >= 2 OR
      name = 'john'`): the reference keeps the time side's interval
      (`l ++ r` of one element reduces to itself,
      TimeRangeManager.scala:51-60) and would prune shards that hold
      `name = 'john'` rows with ts < 2 — a row-losing bug. We treat the
      union with an unconstrained side as unconstrained (the only sound
      reading of OR).
    """
    if e is None:
        return []
    if isinstance(e, ast.EqualityExpression) and e.dimension == "timestamp":
        v = int(_resolve_value(e.value, ctx))
        return [(v, v)]
    if isinstance(e, ast.ComparisonExpression) and e.dimension == "timestamp":
        v = int(_resolve_value(e.value, ctx))
        # `< 0` is empty, not [0, -1] (reference: Interval.openUpper(0, 0))
        if e.operator == "<" and v <= 0:
            return list(_EMPTY_IVS)
        return {
            ">": [(v + 1, None)],
            ">=": [(v, None)],
            "<": [(0, v - 1)],
            "<=": [(0, v)],
        }[e.operator]
    if isinstance(e, ast.RangeExpression) and e.dimension == "timestamp":
        lo = int(_resolve_value(e.value1, ctx))
        hi = int(_resolve_value(e.value2, ctx))
        # inverted BETWEEN bounds: Spire's Interval.closed(v1, v2) with
        # v1 > v2 is the empty interval
        return [(lo, hi)] if lo <= hi else list(_EMPTY_IVS)
    if isinstance(e, ast.NotExpression):
        # complementing is only sound when the inner extraction is EXACT.
        # For a mixed predicate like NOT (timestamp > t AND host = 'a')
        # the inner extraction is an over-approximation (the host side is
        # treated as always-true), and the complement of an
        # over-approximation UNDER-approximates — pruning shards that
        # hold matching rows (wrong SELECTs, rows DELETE never rewrites).
        # A NOT over anything non-time-only is therefore unconstrained.
        if not _is_time_only(e.expression):
            return []
        inner = extract_time_range(e.expression, ctx)
        if not inner:
            return []
        return _complement(inner)
    if isinstance(e, ast.TupledLogicalExpression):
        l = extract_time_range(e.expression1, ctx)
        r = extract_time_range(e.expression2, ctx)
        if not l and not r:
            return []
        if e.operator == "and":
            if not l:
                return r
            if not r:
                return l
            return _intersect(l, r)
        # or: if either side is unconstrained the union is unconstrained
        if not l or not r:
            return []
        return _union(l + r)
    return []


def _is_time_only(e: ast.Expression) -> bool:
    """True iff every leaf predicate constrains `timestamp` — the
    precondition for an exact (complement-safe) interval extraction."""
    if isinstance(
        e, (ast.EqualityExpression, ast.ComparisonExpression, ast.RangeExpression)
    ):
        return e.dimension == "timestamp"
    if isinstance(e, ast.LikeExpression):
        return False
    if isinstance(e, ast.NullableExpression):
        return False
    if isinstance(e, ast.NotExpression):
        return _is_time_only(e.expression)
    if isinstance(e, ast.TupledLogicalExpression):
        return _is_time_only(e.expression1) and _is_time_only(e.expression2)
    return False


def _union(ivs: list[tuple[int, int | None]]) -> list[tuple[int, int | None]]:
    # degenerate (empty-interval) members contribute nothing to a union;
    # a union of ONLY empties is the empty set, not "unconstrained"
    real = [iv for iv in ivs if iv[1] is None or iv[0] <= iv[1]]
    if ivs and not real:
        return list(_EMPTY_IVS)
    out: list[tuple[int, int | None]] = []
    for lo, hi in sorted(real, key=lambda t: t[0]):
        if out:
            plo, phi = out[-1]
            if phi is None or lo <= phi + 1:
                out[-1] = (plo, None if (phi is None or hi is None) else max(phi, hi))
                continue
        out.append((lo, hi))
    return out


def _intersect(a: list[tuple[int, int | None]], b: list[tuple[int, int | None]]):
    out = []
    for lo1, hi1 in a:
        for lo2, hi2 in b:
            lo = max(lo1, lo2)
            hi = hi1 if hi2 is None else hi2 if hi1 is None else min(hi1, hi2)
            if hi is None or lo <= hi:
                out.append((lo, hi))
    # disjoint operands (or an empty operand) intersect to the EMPTY set —
    # returning [] here would read as "unconstrained" upstream
    return _union(out) if out else list(_EMPTY_IVS)


def _complement(ivs: list[tuple[int, int | None]]) -> list[tuple[int, int | None]]:
    ivs = _union(ivs)
    if ivs == _EMPTY_IVS:
        return [_UNBOUNDED]  # complement of the empty set is everything
    out: list[tuple[int, int | None]] = []
    cursor = 0
    for lo, hi in ivs:
        if lo > cursor:
            out.append((cursor, lo - 1))
        if hi is None:
            return out if out else list(_EMPTY_IVS)
        cursor = hi + 1
    out.append((cursor, None))
    return out


def shard_ranges(
    ivs: list[tuple[int, int | None]], shard_interval_ms: int
) -> list[tuple[int, int | None]]:
    """The [first, last] shard_start range each time interval touches
    (last None = unbounded) — the one statement of the shard-pruning
    arithmetic behind SELECT partition filters, the point route's gate and
    EXPLAIN and DELETE (NSDb location filtering analogue,
    ReadNodesSelection.scala:40-49)."""
    return [
        (
            shard_start(lo, shard_interval_ms),
            None if hi is None else shard_start(hi, shard_interval_ms),
        )
        for lo, hi in ivs
    ]


def touched_shards(
    locations: list[int], ivs: list[tuple[int, int | None]], shard_interval_ms: int
) -> list[int]:
    """The shard starts among `locations` that an interval set touches;
    all of them when ivs is [] (no time constraint)."""
    if not ivs:
        return list(locations)
    ranges = shard_ranges(ivs, shard_interval_ms)
    return [
        s for s in locations
        if any(first <= s and (last is None or s <= last) for first, last in ranges)
    ]


def envelope(ivs: list[tuple[int, int | None]]) -> tuple[int | None, int | None]:
    """(lowest lower bound, highest upper bound) of a set of intervals."""
    if not ivs:
        return (None, None)
    lo = min(iv[0] for iv in ivs)
    hi = None if any(iv[1] is None for iv in ivs) else max(iv[1] for iv in ivs)
    return (lo, hi)


# --------------------------------------------------- backward bucket axis
# Temporal buckets align BACKWARD from the axis top, the oldest bucket
# truncated and closed (TimeRangeManager.scala:74-90, SURVEY.md §4.3). This
# is the correctness invariant the raw temporal compiler shares with every
# rollup family in operators/rollup.py, so the bucket count, index, bounds,
# axis join and takeRight are each defined once, here.

#: global bucket index column of a bucket-axis join
BUCKET = "__bucket"

#: on a session with more than one shuffle partition, the per-bucket side of
#: an axis join broadcasts only while the axis is dashboard-sized: it has up
#: to n rows, and n scales as extent/interval — a 1 s interval over a year
#: of shards is ~31M buckets, which would OOM the driver as a broadcast.
#: Past the cap both sides are equally-sized n-row frames; AQE picks the
#: join.
_BROADCAST_BUCKETS_MAX = 1_000_000


def temporal_axis(
    q: ParsedTemporalAggregatedQuery,
    ctx: TimeContext,
    ivs: list[tuple[int, int | None]],
    data_lower: int,
    data_upper: int,
) -> list[tuple[int, int]]:
    """The closed intervals of a temporal read's bucket axes over the
    shard-aligned data extent [data_lower, data_upper], its lower edge
    raised to the grace period's.

    Per-interval axes (TimeRangeManager.computeRangesForIntervalAndCondition,
    TimeRangeManager.scala:102-124): ONE backward-aligned bucket axis per
    extracted WHERE interval — a disjoint range (e.g. a NOT-complement)
    yields disjoint axes with NO zero-filled buckets inside the excluded
    gap, each aligned backward from its own interval's top. Each interval
    is CLIPPED to the data extent, not taken verbatim as the reference
    does: shards only exist where data is (ReadNodesSelection.scala:40-49),
    and the verbatim WHERE bounds would generate a bucket row for every
    interval of an arbitrarily wide range (`timestamp > 0` ⇒ ~10^9 empty
    buckets joined and emitted)."""
    glo = data_lower
    if q.grace_period_ms is not None:
        glo = max(glo, ctx.current_time - q.grace_period_ms)
    if not ivs:
        return [(glo, data_upper)]
    eff = []
    for ilo, ihi in ivs:
        u = data_upper if ihi is None else min(ihi, data_upper)
        l = max(ilo, glo)
        # u == l is a DEGENERATE but non-empty interval ([x, x] contains
        # x): the reference emits one inclusive bucket for it
        # (computeRangeForInterval with upper == lower,
        # TimeRangeManager.scala:96-99) — dropping it would lose rows that
        # match the WHERE (e.g. `timestamp = x` or a NOT-complement whose
        # edge lands on the data extent)
        if u >= l:
            eff.append((l, u))
    return eff


def in_axis(lower: int, upper: int) -> Column:
    """Rows whose timestamp lies on the closed axis [lower, upper]."""
    return (F.col("timestamp") >= lower) & (F.col("timestamp") <= upper)


def bucket_count(lower: int, upper: int, width: int) -> int:
    """Buckets of `width` backward from `upper` down to `lower` (ceil); a
    degenerate [x, x] interval still gets its one bucket."""
    return max(1, -((upper - lower) // -width))


def bucket_index(age: Column, width: int, n: int) -> Column:
    """Backward bucket of `age`, the distance below the axis top: `upper -
    timestamp` with the interval as width, or a stored fine index `k` with
    coarse/fine as width when re-bucketing. The oldest (truncated) bucket
    is clamped to n - 1, so ts == lower stays on the axis."""
    return F.least(F.floor(age / F.lit(width)), F.lit(n - 1))


def bucket_bounds(idx: Column, lower: int, upper: int, width: int) -> tuple[Column, Column]:
    """(lower_bound, upper_bound) of bucket `idx`, the oldest truncated at
    `lower`."""
    return (
        F.greatest(F.lit(upper) - (idx + 1) * width, F.lit(lower)),
        F.lit(upper) - idx * width,
    )


def bucket_segments(
    ivs: list[tuple[int, int]], width: int
) -> list[tuple[int, int, int, int]]:
    """(offset, lower, upper, n) of one backward axis per closed interval,
    ordered by DESCENDING upper bound: the global bucket index (offset +
    local backward bucket) is then monotone in descending upper_bound,
    which axis_join's takeRight relies on. Intervals are disjoint
    (extract_time_range unions), so the order is total."""
    segs, off = [], 0
    for lower, upper in sorted(ivs, key=lambda t: t[1], reverse=True):
        n = bucket_count(lower, upper, width)
        segs.append((off, lower, upper, n))
        off += n
    return segs


def axis_join(
    spark: SparkSession,
    segs: list[tuple[int, int, int, int]],
    width: int,
    per_bucket: DataFrame,
    values: list[Column],
    limit: int | None = None,
    descending: bool = False,
) -> DataFrame:
    """(timestamp, lower_bound, upper_bound, *values) over the full bucket
    axis, empty buckets included: one codegen'd range frame per segment (no
    data scan) left-joined to `per_bucket` on BUCKET. LIMIT is takeRight of
    the time-sorted axis (post_proc/package.scala:62-66): the most recent
    buckets ascending, the oldest descending. Rows are ordered by
    timestamp."""
    # a session that shuffles into ONE partition (the engine's serving
    # session) plans the join inside the result job: a one-split axis
    # merge-joined to the shuffled per-bucket side, which is co-partitioned
    # with it, so the final sort needs no exchange either. A broadcast there
    # would only add a job of its own (its collect), and the merge join
    # spills, so it holds at any axis size.
    single = int(spark.conf.get("spark.sql.shuffle.partitions")) == 1
    n = segs[-1][0] + segs[-1][3]
    # a broadcast join streams the axis: one split is the whole axis in
    # one task, where the default splits it over every core
    one_split = single or n <= _BROADCAST_BUCKETS_MAX
    axis = None
    for off, lower, upper, nb in segs:
        lb, ub = bucket_bounds(F.col("id"), lower, upper, width)
        frame = spark.range(0, nb, 1, 1 if one_split else None).select(
            (F.col("id") + F.lit(off)).alias(BUCKET),
            ub.alias("upper_bound"),
            lb.alias("lower_bound"),
        )
        axis = frame if axis is None else axis.unionByName(frame)
    if single:
        pb = per_bucket.hint("merge")
    elif n <= _BROADCAST_BUCKETS_MAX:
        pb = F.broadcast(per_bucket)
    else:
        pb = per_bucket
    out = axis.join(pb, BUCKET, "left").select(
        F.col("upper_bound").alias("timestamp"), "lower_bound", "upper_bound",
        *values, BUCKET,
    )
    if limit is not None:
        out = out.filter(F.col(BUCKET) >= n - limit if descending else F.col(BUCKET) < limit)
    order = F.col("timestamp").desc() if descending else F.col("timestamp").asc()
    return out.drop(BUCKET).orderBy(order)


# ------------------------------------------------------------------- compiler


class QueryCompiler:
    """Compiles ParsedQuery → DataFrame over a metric frame.

    The metric frame has columns: timestamp BIGINT, value numeric, plus one
    flat column per dimension/tag (absent field = NULL).
    """

    def __init__(
        self,
        spark: SparkSession,
        shard_interval_ms: int = DEFAULT_SHARD_INTERVAL_MS,
        approx_count_distinct: bool = False,
    ):
        self.spark = spark
        self.shard_interval_ms = shard_interval_ms
        # opt-in extension (SURVEY.md §7.3): COUNT DISTINCT via HyperLogLog++
        # partials instead of the exact expand+shuffle — at 100 TB the exact
        # distinct's shuffle width is the cost; the reference is always
        # exact, so this is off by default for parity.
        self.approx_count_distinct = approx_count_distinct

    # -- public --------------------------------------------------------
    def compile(
        self,
        df: DataFrame,
        schema: MetricSchema,
        parsed: ParsedQuery,
        ctx: TimeContext | None = None,
        *,
        locations: list[int],
    ) -> DataFrame:
        """locations: the shard_start values of df's data (the partition
        listing, or a footer-derived extent). A temporal query's bucket
        axis spans [min(locations), max(locations) + shard interval],
        clipped by the WHERE intervals: the extent is metadata, never a
        scan, parity with NSDb's location filtering
        (ReadCoordinator.scala:210-214). No locations means no data: a
        temporal query then returns its empty result without a job."""
        ctx = ctx or TimeContext(_now_ms())
        stmt = parsed.statement
        filtered = (
            df.filter(compile_expression(stmt.condition.expression, ctx))
            if stmt.condition is not None
            else df
        )

        if isinstance(parsed, ParsedSimpleQuery):
            return self._simple(filtered, schema, parsed)
        if isinstance(parsed, ParsedGlobalAggregatedQuery):
            return self._global_agg(filtered, schema, parsed)
        if isinstance(parsed, ParsedAggregatedQuery):
            return self._standard_agg(filtered, parsed)
        if isinstance(parsed, ParsedTemporalAggregatedQuery):
            return self._temporal_agg(filtered, parsed, ctx, locations)
        raise TypeError(f"unknown parsed query {parsed!r}")

    # -- simple ---------------------------------------------------------
    def _simple(self, df: DataFrame, schema: MetricSchema, q: ParsedSimpleQuery) -> DataFrame:
        stmt = q.statement
        if q.distinct:
            out = df.select(q.fields[0]).distinct()
        else:
            out = df.select(*projection(schema, q.fields))
        out = _order(out, stmt.order)
        if stmt.limit:
            out = out.limit(stmt.limit.value)
        return out

    # -- global ----------------------------------------------------------
    def _agg_columns(self, aggs: list[ast.Aggregation]) -> list[Column]:
        cols = []
        for a in aggs:
            alias = agg_alias(a)
            if a.kind == ast.AGG_COUNT:
                c = F.count(a.target)
            elif a.kind == ast.AGG_COUNT_DISTINCT:
                if self.approx_count_distinct:
                    c = F.approx_count_distinct(a.target)
                else:
                    c = F.count_distinct(F.col(a.target))
            elif a.kind == ast.AGG_SUM:
                c = F.coalesce(F.sum(a.target), F.lit(0))
            elif a.kind == ast.AGG_MIN:
                c = F.min(a.target)
            elif a.kind == ast.AGG_MAX:
                c = F.max(a.target)
            elif a.kind == ast.AGG_AVG:
                # empty input → 0 (globalAggregationReduce avg zero case)
                c = F.coalesce(F.avg(a.target), F.lit(0.0))
            elif a.kind == ast.AGG_FIRST:
                c = F.min_by(a.target, "timestamp")
            elif a.kind == ast.AGG_LAST:
                c = F.max_by(a.target, "timestamp")
            else:  # pragma: no cover
                raise ValueError(a.kind)
            cols.append(c.alias(alias))
        return cols

    def _global_agg(
        self, df: DataFrame, schema: MetricSchema, q: ParsedGlobalAggregatedQuery
    ) -> DataFrame:
        stmt = q.statement
        agg_row = df.agg(*self._agg_columns(q.aggregations))
        # global count(*) is clamped to LIMIT (post_proc/package.scala:344-347)
        if stmt.limit:
            for a in q.aggregations:
                if a.kind == ast.AGG_COUNT:
                    alias = agg_alias(a)
                    agg_row = agg_row.withColumn(
                        alias, F.least(F.col(alias), F.lit(stmt.limit.value).cast("long"))
                    )
        if not q.plain_fields:
            return agg_row
        # mixed plain+agg: every row carries the final aggregates
        # (post_proc/package.scala:387-394); single-row broadcast join.
        rows = df.select(*projection(schema, q.plain_fields))
        rows = _order(rows, stmt.order)
        if stmt.limit:
            rows = rows.limit(stmt.limit.value)
        return rows.crossJoin(F.broadcast(agg_row))

    # -- standard group-by ----------------------------------------------
    def _standard_agg(self, df: DataFrame, q: ParsedAggregatedQuery) -> DataFrame:
        stmt = q.statement
        alias = agg_alias(q.aggregation)
        aggc = self._agg_columns([q.aggregation])[0]
        aggs = [aggc]
        if q.aggregation.kind == ast.AGG_FIRST:
            aggs.append(F.min("timestamp").alias("timestamp"))
        elif q.aggregation.kind == ast.AGG_LAST:
            aggs.append(F.max("timestamp").alias("timestamp"))
        out = df.groupBy(q.group_field).agg(*aggs)
        if stmt.order:
            # ORDER BY value sorts by the aggregated value
            # (post_proc/package.scala:67-80); else by the group field.
            target = alias if stmt.order.dimension == "value" else q.group_field
            out = out.orderBy(F.col(target).desc() if stmt.order.descending else F.col(target).asc())
        if stmt.limit:
            out = out.limit(stmt.limit.value)
        return out

    # -- temporal group-by ------------------------------------------------
    def _temporal_agg(
        self,
        df: DataFrame,
        q: ParsedTemporalAggregatedQuery,
        ctx: TimeContext,
        locations: list[int],
    ) -> DataFrame:
        stmt = q.statement
        interval = q.interval_ms
        si = self.shard_interval_ms
        if not locations:
            return self._empty_temporal(q, df)

        # bucket bounds: shard-aligned data extent clipped by the WHERE range
        # (ReadCoordinator.scala:256-272 + TimeRangeManager.computeRangesFor...)
        cond = stmt.condition.expression if stmt.condition else None
        ivs = extract_time_range(cond, ctx)
        eff = temporal_axis(q, ctx, ivs, min(locations), max(locations) + si)
        if not eff:
            return self._empty_temporal(q, df)

        segs = bucket_segments(eff, interval)
        # one backward index per interval axis, offset into the global
        # index; the oldest segment is the CASE fallback, so a single axis
        # is the plain index expression with no CASE WHEN
        in_any = k = None
        for off, l, u, nb in reversed(segs):
            seg = in_axis(l, u)
            local = bucket_index(F.lit(u) - F.col("timestamp"), interval, nb)
            if off:
                local = F.lit(off) + local
            k = local if k is None else F.when(seg, local).otherwise(k)
            in_any = seg if in_any is None else (seg | in_any)
        rows = df.filter(in_any)
        k = k.alias(BUCKET)
        alias = agg_alias(q.aggregation)
        if q.aggregation.kind == ast.AGG_MIN:
            # ⚠ reference quirk (post_proc/package.scala:170-176): the
            # cross-shard temporal-min reduce drops ZERO shard partials
            # unless every partial is zero. Observable only when a bucket
            # spans shards (or replicas) and one shard's minimum is 0.
            # Reproduce exactly: per-(bucket, shard) partial min, then a
            # zero-skipping combine. Two map-side-combinable aggregations,
            # same shuffle volume class as the plain min.
            shard = (F.floor(F.col("timestamp") / F.lit(si)) * si).alias("__shard")
            partials = rows.groupBy(k, shard).agg(
                F.min(q.aggregation.target).alias("__pmin")
            )
            per_bucket = partials.groupBy(BUCKET).agg(
                F.coalesce(
                    F.min(F.when(F.col("__pmin") != 0, F.col("__pmin"))),
                    F.lit(0),
                ).alias(alias)
            )
        else:
            per_bucket = rows.groupBy(k).agg(self._agg_columns([q.aggregation])[0])

        # bucket axis including empty buckets (spec emits them with 0)
        desc = bool(stmt.order and stmt.order.descending and stmt.order.dimension == "timestamp")
        return axis_join(
            self.spark, segs, interval, per_bucket,
            [F.coalesce(F.col(alias), F.lit(0)).alias(alias)],
            stmt.limit.value if stmt.limit else None, desc,
        )

    def _empty_temporal(
        self, q: ParsedTemporalAggregatedQuery, df: DataFrame
    ) -> DataFrame:
        """Zero-row frame with EXACTLY the populated path's schema: the
        aggregate column's type is derived by running the same aggregate
        expression over an empty slice of the input, so a count stays
        bigint (a hardcoded double here made the type flip between an
        empty-range run and a populated one — breaking unions and the
        HTTP/WS serialized shape)."""
        alias = agg_alias(q.aggregation)
        aggc = self._agg_columns([q.aggregation])[0]
        return (
            df.limit(0)
            .groupBy()
            .agg(aggc)  # global agg over empty input = one row; types right
            .select(
                F.lit(None).cast("bigint").alias("timestamp"),
                F.lit(None).cast("bigint").alias("lower_bound"),
                F.lit(None).cast("bigint").alias("upper_bound"),
                F.coalesce(F.col(alias), F.lit(0)).alias(alias),
            )
            .limit(0)
        )


def _order(df: DataFrame, order: ast.OrderOperator | None) -> DataFrame:
    if order is None:
        return df
    c = F.col(order.dimension)
    return df.orderBy(c.desc() if order.descending else c.asc())


def _now_ms() -> int:
    import time

    return int(time.time() * 1000)
