"""Pre-aggregated temporal rollup tables.

NSDb answers per-shard aggregations from pre-built facet indexes without
scanning rows (AllFacetIndexes.scala:54-129, FacetRangeIndex.scala:42-76).
The Spark-first analogue (SURVEY.md §4 row 3) is a materialized ROLLUP
table at a fine interval; any coarser backward-aligned temporal GROUP BY
is then answered from the rollup instead of the raw metric — at 100 TB
the rollup is smaller than the raw data by the bucket compression factor
(rows per fine bucket), so a dashboard-style temporal query scans
megabytes, not terabytes.

Correct nesting: NSDb buckets align BACKWARD from the shard-interval top
(TimeRangeManager.scala:74-90; SURVEY.md §4.3). Both the fine and coarse
axes hang from the SAME global upper bound, so whenever
coarse = m * fine, fine bucket k lands wholly inside coarse bucket
k // m — including the truncated oldest bucket. Re-aggregation is exact
for count/sum/max (and avg via sum/count). Count-distinct is not
mergeable as an exact set size, so it is served from sketch partials
instead: the linear-counting bitmap (build_distinct_rollup) and the
HyperLogLog registers (build_hll_rollup, which the engine routes
`count(distinct ...) group by interval` to).
"""
from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compiler import (
    BUCKET, axis_join, bucket_bounds, bucket_count, bucket_index,
    bucket_segments, in_axis,
)


def temporal_bounds(metric_df: DataFrame, shard_ms: int) -> tuple[int, int]:
    """(lower, upper) of the bucket axis: data extent snapped to the
    shard grid — lower = floor(min/shard)*shard, upper = the top of the
    shard containing max. One tiny 2-value aggregate."""
    row = metric_df.agg(F.min("timestamp"), F.max("timestamp")).first()
    if row[0] is None:
        raise ValueError(
            "cannot derive a bucket axis from an empty frame — "
            "pass explicit bounds or skip the rollup"
        )
    lower = (row[0] // shard_ms) * shard_ms
    upper = (row[1] // shard_ms) * shard_ms + shard_ms
    return lower, upper


# The backward-aligned bucket math is THE correctness invariant every
# rollup shares with the raw temporal compiler. The bucket count, index,
# bounds, axis join and takeRight are defined once, in compiler.py
# (bucket_count, bucket_index, bucket_bounds, axis_join), so a future
# change cannot reach one path and silently drift the others apart (or
# away from the oracle).

#: each family's combine map: how its partial columns re-reduce, both when
#: per-batch partials merge (per fine bucket k) and when fine buckets
#: re-bucket onto a coarse grid (per coarse bucket) — one statement serves
#: both. The LC bitmap has none: its merge is set union (distinct).
_TEMPORAL = {"count_value": F.sum, "sum_value": F.sum, "max_value": F.max}
_GROUP = {"n": F.sum, "sum_value": F.sum, "min_value": F.min, "max_value": F.max}
_COUNTS = {"cnt": F.sum}  # quantile bins, top-k items
_HLL = {"rho": F.max}
_MOMENTS = {c: F.sum for c in ("n", "s1", "s2", "s3", "s4")}


def _reduce(df: DataFrame, keys: list, combine: dict) -> DataFrame:
    return df.groupBy(*keys).agg(*(fn(c).alias(c) for c, fn in combine.items()))


def _union(rollups) -> DataFrame:
    return reduce(DataFrame.unionByName, rollups)


def _fine(
    metric_df: DataFrame,
    fine_ms: int,
    shard_ms: int,
    bounds: tuple[int, int] | None,
    *not_null: str,
) -> tuple[DataFrame, Column, tuple[int, int]]:
    """Build prologue of every temporal family: the axis bounds (pinned,
    or the shard-snapped data extent), the rows on the closed axis whose
    `not_null` columns are set, and their fine bucket index `k`."""
    lower, upper = bounds if bounds else temporal_bounds(metric_df, shard_ms)
    keep = in_axis(lower, upper)
    for c in not_null:
        keep = keep & F.col(c).isNotNull()
    n_fine = bucket_count(lower, upper, fine_ms)
    k = bucket_index(F.lit(upper) - F.col("timestamp"), fine_ms, n_fine)
    return metric_df.filter(keep), k.alias("k"), (lower, upper)


def _coarse(
    bounds: tuple[int, int], fine_ms: int, coarse_ms: int
) -> tuple[Column, list[tuple[int, int, int, int]]]:
    """Serve prologue of every coarse read: the multiple-of-grain check,
    then the coarse index of a stored fine index k (aliased BUCKET) and
    the coarse axis segment for compiler.axis_join."""
    if coarse_ms % fine_ms:
        raise ValueError("coarse interval must be a multiple of the rollup grain")
    segs = bucket_segments([bounds], coarse_ms)
    kc = bucket_index(F.col("k"), coarse_ms // fine_ms, segs[0][3])
    return kc.alias(BUCKET), segs


def _grid(value_range: tuple[float, float], nbins: int) -> tuple[float, float]:
    """(vlo, bin width) of the fixed quantile value grid."""
    vlo, vhi = value_range
    return vlo, (vhi - vlo) / nbins or 1.0


def _value_bin(value_col: str, value_range: tuple[float, float], nbins: int) -> Column:
    """The value's cell on the fixed grid, clamped into [0, nbins - 1]."""
    vlo, w = _grid(value_range, nbins)
    return F.greatest(
        F.least(F.floor((F.col(value_col) - F.lit(vlo)) / F.lit(w)), F.lit(nbins - 1)),
        F.lit(0),
    ).cast("int").alias("bin")


def _in_bin(value_range: tuple[float, float], nbins: int, q: Column) -> Column:
    """Linear interpolation inside the selected bin struct `s` (bin, cnt,
    cum) of an n-row histogram: vlo + w·(bin + (q·n − cum_before)/cnt)."""
    vlo, w = _grid(value_range, nbins)
    return F.lit(vlo) + F.lit(w) * (
        F.col("s.bin")
        + (q * F.col("n") - (F.col("s.cum") - F.col("s.cnt"))) / F.col("s.cnt")
    )


def _percentile_by(
    hist: DataFrame, key: str, q: float, value_range: tuple[float, float],
    nbins: int, alias: str,
) -> DataFrame:
    """(key, n, <alias>): the q-percentile of each `key`'s (bin, cnt)
    histogram — a cumulative window partitioned by key (parallel, no
    global sort), the first bin reaching q·n, in-bin interpolation,
    rounded to 6."""
    cum = hist.select(
        key, "bin", "cnt",
        F.sum("cnt").over(Window.partitionBy(key).orderBy("bin")).alias("cum"),
        F.sum("cnt").over(Window.partitionBy(key)).alias("n"),
    )
    sel = (
        cum.filter(F.col("cum") >= F.lit(q) * F.col("n"))
        .groupBy(key, "n")
        .agg(F.min_by(F.struct("bin", "cnt", "cum"), F.col("bin")).alias("s"))
    )
    return sel.select(key, "n", F.round(_in_bin(value_range, nbins, F.lit(q)), 6).alias(alias))


def _lc_index(field: str, m_buckets: int) -> Column:
    """Linear-counting bitmap index: portable_hash(value) mod M."""
    from .dedup import portable_word_hash

    return F.pmod(
        portable_word_hash(F.col(field).cast("string")), F.lit(m_buckets)
    ).cast("int").alias("idx")


def _lc_estimate(m_buckets: int) -> Column:
    """-M·ln(1-V/M) rounded to 3 from the bitmap population V; a
    saturated bitmap (V == M) yields NULL, not a fabricated number."""
    M = float(m_buckets)
    return F.when(
        F.col("V") < m_buckets,
        F.round(-F.lit(M) * F.log(F.lit(1.0) - F.col("V") / F.lit(M)), 3),
    ).otherwise(F.lit(None).cast("double"))


def _moments(cnt: Column) -> list[Column]:
    """mean, skewness and excess kurtosis (rounded to 6) from the power
    sums s1..s4 over `cnt` values; m₂ = 0 yields NULL via try_divide."""
    cnt = cnt.cast("double")
    mu = F.col("s1") / cnt
    m2 = F.col("s2") / cnt - mu * mu
    m3 = F.col("s3") / cnt - 3.0 * mu * (F.col("s2") / cnt) + 2.0 * mu * mu * mu
    m4 = (
        F.col("s4") / cnt
        - 4.0 * mu * (F.col("s3") / cnt)
        + 6.0 * mu * mu * (F.col("s2") / cnt)
        - 3.0 * mu * mu * mu * mu
    )
    return [
        F.round(mu, 6).alias("mean"),
        F.round(F.try_divide(m3, F.sqrt(m2 * m2 * m2)), 6).alias("skewness"),
        F.round(F.try_divide(m4, m2 * m2) - 3.0, 6).alias("ex_kurtosis"),
    ]


def build_temporal_rollup(
    metric_df: DataFrame,
    fine_ms: int,
    shard_ms: int,
    bounds: tuple[int, int] | None = None,
) -> tuple[DataFrame, tuple[int, int]]:
    """Materialize the fine-grained rollup: one row per NON-EMPTY fine
    bucket with mergeable partials (count, sum, max). Returns
    (rollup_df, (lower, upper)) — the bounds ride along so re-aggregation
    can rebuild the full bucket axis without touching raw data again.

    At scale this is written once per ingest batch, partitioned by
    shard_start, and incrementally appended: a fine bucket never spans two
    shards, so late data only rewrites its own shard's rollup rows.

    Pass explicit `bounds` to pin the bucket axis (required when building
    per-batch rollups destined for merge_rollups — all batches must share
    the same upper anchor; at scale that anchor is the fixed shard grid).
    """
    rows, k, bounds = _fine(metric_df, fine_ms, shard_ms, bounds)
    rollup = rows.groupBy(k).agg(
        # row count == count(value): the write path rejects NULL
        # values (a bit always carries one), so the rollup count
        # cannot diverge from the raw path's F.count(target)
        F.count(F.lit(1)).alias("count_value"),
        F.sum("value").alias("sum_value"),
        F.max("value").alias("max_value"),
    )
    return rollup, bounds


def merge_rollups(*rollups: DataFrame) -> DataFrame:
    """Incremental rollup maintenance: combine per-batch rollup partials
    into one (count/sum are additive, max re-maxes). This is how the
    materialized rollup stays current under streaming ingest — each
    micro-batch contributes its own tiny rollup and the union re-reduces,
    so raw history is never re-scanned. merge(rollup(A), rollup(B)) ==
    rollup(A ∪ B) exactly (same bounds assumed: fine buckets are
    bound-anchored, so batches must share the axis — at scale the anchor
    is the fixed shard grid, which never moves)."""
    return _reduce(_union(rollups), ["k"], _TEMPORAL)


def build_group_rollup(metric_df: DataFrame, field: str) -> DataFrame:
    """Per-group mergeable partials (n, sum, min, max of value) keyed by
    a tag/dimension — ONE definition shared by the engine's
    materialization and its incremental maintenance merge, so the
    partial set cannot silently desynchronize between the two (the
    one-definition discipline of the bucket axis applied to the group
    axis)."""
    return metric_df.groupBy(field).agg(
        F.count("value").alias("n"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def merge_group_rollups(field: str, *rollups: DataFrame) -> DataFrame:
    """Combine build_group_rollup partials: n/sum add, min/max re-reduce."""
    return _reduce(_union(rollups), [field], _GROUP)


def temporal_from_rollup(
    spark: SparkSession,
    rollup: DataFrame,
    bounds: tuple[int, int],
    fine_ms: int,
    coarse_ms: int,
    agg: str,
    alias: str,
    limit: int | None = None,
    descending: bool = False,
) -> DataFrame:
    """Answer `... GROUP BY INTERVAL <coarse>` from the fine rollup.

    coarse_ms must be a multiple of fine_ms. Output contract matches the
    raw-path temporal compiler exactly — (timestamp, lower_bound,
    upper_bound, <alias>), empty buckets emitted as 0, LIMIT = takeRight
    of the time-sorted axis (post_proc/package.scala:62-66 semantics),
    rows ordered by timestamp — so the SAME DuckDB oracle validates both
    paths and the engine can route eligible queries here transparently.
    Values are raw (no rounding): presentation rounding is the caller's.
    """
    kc, segs = _coarse(bounds, fine_ms, coarse_ms)
    merged = _reduce(rollup, [kc], _TEMPORAL)
    if agg == "count":
        v = F.col("count_value")
    elif agg == "sum":
        v = F.col("sum_value")
    elif agg == "avg":
        v = F.col("sum_value") / F.col("count_value")
    elif agg == "max":
        v = F.col("max_value")
    else:
        raise ValueError(f"aggregation {agg!r} is not rollup-mergeable")
    return axis_join(
        spark, segs, coarse_ms, merged, [F.coalesce(v, F.lit(0)).alias(alias)],
        limit, descending,
    )


# ----------------------------------------------------- quantile rollups


def value_bounds(metric_df: DataFrame, value_col: str = "value") -> tuple[float, float]:
    """(vlo, vhi) of the sketch grid — one tiny 2-value aggregate."""
    row = metric_df.agg(F.min(value_col), F.max(value_col)).first()
    if row[0] is None:
        raise ValueError(
            "cannot derive a sketch value grid from an empty frame — "
            "pass an explicit value_range or skip the rollup"
        )
    return float(row[0]), float(row[1])


def build_quantile_rollup(
    metric_df: DataFrame,
    fine_ms: int,
    shard_ms: int,
    nbins: int = 256,
    value_col: str = "value",
    bounds: tuple[int, int] | None = None,
    value_range: tuple[float, float] | None = None,
) -> tuple[DataFrame, tuple[int, int], tuple[float, float]]:
    """Mergeable QUANTILE partials per fine bucket: (k, bin, cnt) rows,
    where bin is the value's cell on a fixed [vlo, vhi]/nbins grid.

    This is the t-digest idea — per-partition summaries merged instead of
    re-scanning raw values — with fixed-grid cells instead of adaptive
    centroids, deliberately: merge(sketch(A), sketch(B)) == sketch(A∪B)
    EXACTLY (counts add), and the arithmetic replays bit-identically in
    any engine, so the rollup-served percentile is oracle-checkable
    (adaptive t-digest centroids are neither). Quantile error is bounded
    by one bin width, (vhi-vlo)/nbins — at 100 TB pick nbins ≈ 4096 and
    a percentile query scans nbins-row partials instead of the corpus.

    Pass `bounds`/`value_range` to pin both grids when building per-batch
    partials destined for merge_quantile_rollups (same contract as
    build_temporal_rollup — at scale the anchors are fixed at metric
    init, like the shard grid).
    """
    value_range = tuple(value_range or value_bounds(metric_df, value_col))
    # NULL values must not enter the sketch: least()/greatest() skip
    # NULL arguments, so a NULL row would silently land in the TOP
    # bin and skew every served percentile upward — the raw path's
    # percentile() excludes NULLs, and rollup == raw is the invariant
    rows, k, bounds = _fine(metric_df, fine_ms, shard_ms, bounds, value_col)
    rollup = rows.groupBy(k, _value_bin(value_col, value_range, nbins)).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return rollup, bounds, value_range


def merge_quantile_rollups(*rollups: DataFrame) -> DataFrame:
    """Counts add per (k, bin): merge(sketch(A), sketch(B)) == sketch(A∪B)
    exactly, provided the grids (bounds + value_range) match."""
    return _reduce(_union(rollups), ["k", "bin"], _COUNTS)


def percentiles_from_quantile_rollup(
    spark: SparkSession,
    rollup: DataFrame,
    qs: list[float],
    value_range: tuple[float, float],
    nbins: int = 256,
    alias: str = "pvalue",
) -> DataFrame:
    """(q, <alias>) percentiles answered from the quantile rollup alone —
    raw data is never touched. Interpolates linearly inside the selected
    bin: value = vlo + w·(bin + (q·n − cum_before)/cnt).

    Plan shape: the per-bin partials reduce to ≤nbins rows (map-side
    combinable), ONE window over those ≤nbins rows yields both the
    cumulative and the total n (the one single-partition window in this
    operator is over the sketch, not the data; the rollup is reduced
    once), and each q picks its bin with a broadcast-size join. Output
    rounded to 6 (order-statistic discipline)."""
    hist = rollup.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    by_bin = Window.orderBy("bin")
    cum = hist.select(
        "bin", "cnt",
        F.sum("cnt").over(by_bin).alias("cum"),
        F.sum("cnt").over(
            by_bin.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    sel = (
        qdf.join(F.broadcast(cum), F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q", "n")
        .agg(F.min_by(F.struct("bin", "cnt", "cum"), F.col("bin")).alias("s"))
    )
    value = _in_bin(value_range, nbins, F.col("q"))
    return sel.select("q", F.round(value, 6).alias(alias)).orderBy("q")


def build_group_quantile_rollup(
    metric_df: DataFrame,
    field: str,
    nbins: int = 256,
    value_col: str = "value",
    value_range: tuple[float, float] | None = None,
) -> tuple[DataFrame, tuple[float, float]]:
    """Mergeable quantile partials keyed by a tag/dimension: (field, bin,
    cnt) on one shared fixed value grid — the GROUP BY counterpart of
    build_quantile_rollup (same exact-merge property: counts add per
    (group, bin)). One map-side-combinable shuffle; ≤ groups×nbins rows."""
    value_range = tuple(value_range or value_bounds(metric_df, value_col))
    # NULL values would land in the top bin (see build_quantile_rollup);
    # NULL group keys are excluded like every group-keyed rollup
    rollup = (
        metric_df.filter(
            F.col(value_col).isNotNull() & F.col(field).isNotNull()
        )
        .groupBy(F.col(field), _value_bin(value_col, value_range, nbins))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return rollup, value_range


def group_percentiles_from_quantile_rollup(
    rollup: DataFrame,
    field: str,
    q: float,
    value_range: tuple[float, float],
    nbins: int = 256,
    alias: str = "pvalue",
) -> DataFrame:
    """(field, n, <alias>): the q-percentile of every group answered from
    the group-keyed sketch alone — per-group cumulative window over ≤
    nbins rows each (partitioned by group: parallel, no global sort),
    same in-bin interpolation as the global/temporal paths."""
    return _percentile_by(rollup, field, q, value_range, nbins, alias).orderBy(field)


def temporal_percentile_from_quantile_rollup(
    spark: SparkSession,
    rollup: DataFrame,
    q: float,
    bounds: tuple[int, int],
    fine_ms: int,
    coarse_ms: int,
    value_range: tuple[float, float],
    nbins: int = 256,
    alias: str = "pvalue",
) -> DataFrame:
    """`percentile(value, q) ... GROUP BY INTERVAL <coarse>` served from
    the quantile rollup: per coarse bucket, the fine partials merge
    (counts add — the exact-merge property) and the percentile reads off
    the merged histogram with the same in-bin interpolation as the global
    path. Output contract matches the temporal compiler: (timestamp,
    lower_bound, upper_bound, <alias>), empty buckets 0, ordered by
    timestamp ascending.

    Plan shape: one (kc, bin) partial-agg shuffle over sketch rows (≤
    buckets×nbins), a per-bucket cumulative window partitioned BY BUCKET
    (parallel, no single-partition sort), and a broadcast axis join."""
    kc, segs = _coarse(bounds, fine_ms, coarse_ms)
    hist = _reduce(rollup, [kc, "bin"], _COUNTS)
    per_bucket = _percentile_by(hist, BUCKET, q, value_range, nbins, alias)
    return axis_join(
        spark, segs, coarse_ms, per_bucket,
        [F.coalesce(F.col(alias), F.lit(0.0)).alias(alias)],
    )


# ------------------------------------------------ distinct (LC) rollups


def build_distinct_rollup(
    metric_df: DataFrame,
    field: str,
    fine_ms: int,
    shard_ms: int,
    m_buckets: int = 4096,
    bounds: tuple[int, int] | None = None,
) -> tuple[DataFrame, tuple[int, int]]:
    """Mergeable COUNT-DISTINCT partials via linear probabilistic
    counting (Whang et al. '90): per fine bucket, the DISTINCT set of
    hash-bucket indexes the field's values hit — (k, idx) rows, idx =
    portable_hash(value) mod m_buckets.

    Exact count-distinct is the one aggregate the plain rollup cannot
    serve (set sizes don't add); the LC bitmap CAN: merge is set union
    (distinct again — idempotent, order-free), the estimate
    -M·ln(1-V/M) is deterministic given the same portable hash, so the
    rollup-served answer is oracle-checkable, and each bucket's partial
    is bounded by M rows regardless of data volume. Standard error
    ≈ sqrt(M·(ln 2))/… ~1/sqrt(M); keep cardinality ≤ ~0.7·M per bucket
    (past that the bitmap saturates and the estimate degrades; V == M
    yields NULL rather than a fabricated number)."""
    # count distinct ignores NULLs (HLL path rule) — a NULL field would
    # otherwise survive as its own (k, NULL) row and inflate V by one per
    # bucket
    rows, k, bounds = _fine(metric_df, fine_ms, shard_ms, bounds, field)
    return rows.select(k, _lc_index(field, m_buckets)).distinct(), bounds


def merge_distinct_rollups(*rollups: DataFrame) -> DataFrame:
    """Set union per bucket: merge(lc(A), lc(B)) == lc(A ∪ B) exactly."""
    return _union(rollups).distinct()


def temporal_count_distinct_from_rollup(
    spark: SparkSession,
    rollup: DataFrame,
    bounds: tuple[int, int],
    fine_ms: int,
    coarse_ms: int,
    m_buckets: int = 4096,
    alias: str = "est_distinct",
) -> DataFrame:
    """`count(distinct field) ... GROUP BY INTERVAL <coarse>` estimated
    from the LC rollup alone: per coarse bucket, V = |union of fine
    bitmaps| (one distinct-count over ≤ M rows per bucket), estimate
    -M·ln(1-V/M) rounded to 3. Output contract matches the temporal
    compiler (timestamp, lower_bound, upper_bound, <alias>); empty
    buckets 0; a saturated bitmap (V == M) yields NULL."""
    kc, segs = _coarse(bounds, fine_ms, coarse_ms)
    v = (
        rollup.select(kc, "idx")
        .distinct()
        .groupBy(BUCKET)
        .agg(F.count(F.lit(1)).alias("V"))
    )
    # an empty bucket has no bitmap: estimate 0
    est = F.when(F.col("V").isNull(), F.lit(0.0)).otherwise(_lc_estimate(m_buckets))
    return axis_join(spark, segs, coarse_ms, v, [est.alias(alias)])


def build_group_distinct_rollup(
    metric_df: DataFrame,
    group_field: str,
    distinct_field: str,
    m_buckets: int = 4096,
) -> DataFrame:
    """Group-keyed LC partials: DISTINCT (group, idx) rows — the
    'distinct users per tag' counterpart of build_distinct_rollup, same
    union-merge and bounded-size properties (≤ M rows per group)."""
    # count distinct ignores NULLs. NULL GROUP keys must be filtered here
    # too: groupBy retains NULL keys, so without this the serving path
    # would emit a (NULL, est) row no consumer asked for
    return (
        metric_df.filter(
            F.col(distinct_field).isNotNull() & F.col(group_field).isNotNull()
        )
        .select(F.col(group_field), _lc_index(distinct_field, m_buckets))
        .distinct()
    )


def group_count_distinct_from_rollup(
    rollup: DataFrame,
    group_field: str,
    m_buckets: int = 4096,
    alias: str = "est_distinct",
) -> DataFrame:
    """(group, <alias>): LC estimate per group from the bitmap alone;
    saturated groups (V == M) yield NULL. One count per group — the
    partials are already distinct."""
    v = rollup.groupBy(group_field).agg(F.count(F.lit(1)).alias("V"))
    return v.select(group_field, _lc_estimate(m_buckets).alias(alias)).orderBy(group_field)


def temporal_agg_via_rollup(
    spark: SparkSession,
    metric_df: DataFrame,
    fine_ms: int,
    coarse_ms: int,
    shard_ms: int,
    agg: str,
    alias: str,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Build-then-query convenience used by the registry: proves the
    rollup path is result-identical to the raw temporal path (same oracle).
    `bounds` pins the axis as in build_temporal_rollup."""
    rollup, bounds = build_temporal_rollup(metric_df, fine_ms, shard_ms, bounds)
    return temporal_from_rollup(spark, rollup, bounds, fine_ms, coarse_ms, agg, alias)


# ------------------------------------------------------------------ HLL rollup


def build_hll_rollup(
    metric_df: DataFrame,
    field: str,
    fine_ms: int,
    shard_ms: int,
    p: int = 10,
    bounds: tuple[int, int] | None = None,
) -> tuple[DataFrame, tuple[int, int]]:
    """Mergeable COUNT-DISTINCT partials via HyperLogLog registers
    (Flajolet et al. '07): per fine bucket, (k, reg, rho) with
    reg = low p bits of the portable 60-bit hash and rho = leading-zero
    rank of the remaining W = 60-p bits — one max() per (k, reg).

    Why alongside the LC bitmap (build_distinct_rollup): LC is
    lower-variance but SATURATES — past ~M distinct values per bucket it
    answers NULL, and M rows/bucket is the storage. HLL's 2^p registers
    (1024 at p=10) never saturate: error stays ~1.04/sqrt(2^p) ≈ 3 %
    at ANY cardinality — the 100 TB default; LC remains the choice when
    per-bucket cardinality is known-bounded.

    Merge is max per (k, reg) — idempotent, order-free, exactly
    mergeable (merge(hll(A), hll(B)) == hll(A ∪ B) register-for-
    register). The estimate (see temporal_hll_from_rollup) is computed
    from an EXACT integer register sum, so it is bit-deterministic and
    oracle-checkable like every other rollup here.
    """
    from .dedup import portable_word_hash

    m = 1 << p
    w_bits = 60 - p
    # count distinct ignores NULLs
    rows, k, bounds = _fine(metric_df, fine_ms, shard_ms, bounds, field)
    h = portable_word_hash(F.col(field).cast("string"))
    reg = F.pmod(h, F.lit(m)).cast("int").alias("reg")
    w = F.shiftright(h, p)
    rho = (
        F.when(w == 0, F.lit(w_bits + 1))
        .otherwise(F.lit(w_bits) - F.length(F.bin(w)) + 1)
        .cast("int")
        .alias("rho")
    )
    return _reduce(rows.select(k, reg, rho), ["k", "reg"], _HLL), bounds


def merge_hll_rollups(*rollups: DataFrame) -> DataFrame:
    """Register-wise max: merge(hll(A), hll(B)) == hll(A ∪ B) exactly."""
    return _reduce(_union(rollups), ["k", "reg"], _HLL)


def hll_constants(p: int) -> tuple[int, int, float]:
    """(m, w_bits, C) with C = alpha_m * m^2 * 2^(w_bits+1) — the exact
    numerator constant, computed once in Python and injected as the SAME
    literal into the Spark plan and the SQL oracle so the single float
    division is identical in both engines."""
    m = 1 << p
    w_bits = 60 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return m, w_bits, alpha * m * m * float(1 << (w_bits + 1))


def temporal_hll_from_rollup(
    spark: SparkSession,
    rollup: DataFrame,
    bounds: tuple[int, int],
    fine_ms: int,
    coarse_ms: int,
    p: int = 10,
    alias: str = "est_distinct",
    limit: int | None = None,
    descending: bool = False,
) -> DataFrame:
    """`count(distinct field) ... GROUP BY INTERVAL <coarse>` estimated
    from the HLL rollup alone. Per coarse bucket: registers = max over
    the fine buckets it spans, then

        T = Σ_present 2^(W+1-rho) + (m - present) · 2^(W+1)   (exact bigint)
        E = C / T, small-range corrected to m·ln(m/V) when E ≤ 2.5m
            and V = m - present > 0   (Flajolet's LC fallback)

    The register sum is scaled to integers (2^-rho · 2^(W+1)), so T is
    exact and order-free — the only float ops are the final division and
    ln, identical in any engine. Empty buckets 0; round 3."""
    kc, segs = _coarse(bounds, fine_ms, coarse_ms)
    m, w_bits, C = hll_constants(p)
    regs = _reduce(rollup, [kc, "reg"], _HLL)
    per_bucket = regs.groupBy(BUCKET).agg(
        F.count(F.lit(1)).alias("present"),
        F.sum(
            # shiftleft's amount must be a literal in the python API —
            # the per-row shift goes through expr
            F.expr(f"shiftleft(cast(1 as bigint), {w_bits + 1} - rho)")
        ).alias("t_present"),
    )
    t = F.col("t_present") + (F.lit(m) - F.col("present")) * F.lit(
        1 << (w_bits + 1)
    )
    v = F.lit(m) - F.col("present")
    e_raw = F.lit(C) / t
    est = (
        F.when(F.col("present").isNull(), F.lit(0.0))  # empty bucket
        .when(
            (e_raw <= 2.5 * m) & (v > 0),
            F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / v), 3),
        )
        .otherwise(F.round(e_raw, 3))
    )
    # same takeRight LIMIT contract as temporal_from_rollup (engine route)
    return axis_join(
        spark, segs, coarse_ms, per_bucket, [est.alias(alias)], limit, descending
    )


# ----------------------------------------------------------- top-k rollup


def build_group_temporal_rollup(
    metric_df: DataFrame,
    field: str,
    fine_ms: int,
    shard_ms: int,
    bounds: tuple[int, int] | None = None,
) -> tuple[DataFrame, tuple[int, int]]:
    """(k, item, cnt) — exact per-(fine bucket, field value) counts: the
    mergeable partials behind "top items per window" dashboards
    (trending terms/types per hour). Merge is count addition; size is
    bounded by buckets x field cardinality, so this fits tag-like fields
    (for unbounded fields pair it with the HLL rollup's hashing or a
    heavy-hitters pass first — operators/skew.py)."""
    rows, k, bounds = _fine(metric_df, fine_ms, shard_ms, bounds, field)
    rollup = (
        rows.select(k, F.col(field).alias("item"))
        .groupBy("k", "item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return rollup, bounds


def temporal_topk_from_rollup(
    spark: SparkSession,
    rollup: DataFrame,
    bounds: tuple[int, int],
    fine_ms: int,
    coarse_ms: int,
    n_top: int = 3,
) -> DataFrame:
    """Top-n items per coarse bucket served from the counts rollup:
    (timestamp, lower_bound, upper_bound, item, count_value, rank) —
    raw data never rescanned. Fine counts merge additively into the
    coarse bucket, the rank window runs per bucket over at most the
    field's cardinality rows (ties break on item for determinism);
    empty buckets emit no rows (a dashboard shows them empty)."""
    kc, segs = _coarse(bounds, fine_ms, coarse_ms)
    merged = _reduce(rollup, [kc, "item"], _COUNTS)
    w = Window.partitionBy(BUCKET).orderBy(F.desc("cnt"), F.asc("item"))
    top = (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_top)
    )
    _, lower, upper, _ = segs[0]
    lb, ub = bucket_bounds(F.col(BUCKET), lower, upper, coarse_ms)
    return (
        top.select(
            ub.alias("timestamp"),
            lb.alias("lower_bound"),
            ub.alias("upper_bound"),
            "item",
            F.col("cnt").alias("count_value"),
            "rank",
        )
        .orderBy("timestamp", "rank")
    )


def build_moment_rollup(
    metric_df: DataFrame,
    fine_ms: int,
    shard_ms: int,
    bounds: tuple[int, int] | None = None,
) -> tuple[DataFrame, tuple[int, int]]:
    """Fine-bucket MERGEABLE central-moment partials: one row per
    non-empty fine bucket with (n, Σx, Σx², Σx³, Σx⁴) — power sums add
    across batches and across fine→coarse re-grouping, so
    skew/kurtosis dashboards serve from the rollup store without
    rescanning raw history, exactly like the count/sum/percentile/HLL
    families. Raw power sums cancel catastrophically for
    large-magnitude values; at scale, shift by a per-shard anchor
    before summing (the shard grid is fixed, so anchors merge too).

    Same axis/anchor contract as build_temporal_rollup.
    """
    rows, k, bounds = _fine(metric_df, fine_ms, shard_ms, bounds)
    v = F.col("value").cast("double")
    rollup = rows.groupBy(k).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    return rollup, bounds


def merge_moment_rollups(*rollups: DataFrame) -> DataFrame:
    """Additive merge — power sums simply add per fine bucket, so
    merge(rollup(A), rollup(B)) == rollup(A ∪ B) exactly."""
    return _reduce(_union(rollups), ["k"], _MOMENTS)


def temporal_skew_from_moment_rollup(
    spark: SparkSession,
    rollup: DataFrame,
    bounds: tuple[int, int],
    fine_ms: int,
    coarse_ms: int,
) -> DataFrame:
    """Coarse-bucket mean/skewness/excess-kurtosis served from the
    moment rollup: fine partials re-sum to the coarse grid (pure
    addition), then the standardized moments come out closed-form.
    Same axis contract as temporal_from_rollup (timestamp = bucket
    upper bound, empty buckets emitted with n = 0 and NULL moments,
    rows ordered by timestamp). Degenerate buckets (constant values,
    m₂ = 0) yield NULL skew/kurt via try_divide.
    """
    kc, segs = _coarse(bounds, fine_ms, coarse_ms)
    merged = _reduce(rollup, [kc], _MOMENTS)
    n_value = F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_value")
    return axis_join(spark, segs, coarse_ms, merged, [n_value, *_moments(F.col("n"))])


def temporal_skew_via_rollup(
    spark: SparkSession,
    metric_df: DataFrame,
    fine_ms: int,
    coarse_ms: int,
    shard_ms: int,
) -> DataFrame:
    """Build-then-query convenience for the registry: proves the moment
    rollup path matches the raw-scan oracle."""
    rollup, bounds = build_moment_rollup(metric_df, fine_ms, shard_ms)
    return temporal_skew_from_moment_rollup(
        spark, rollup, bounds, fine_ms, coarse_ms
    )


def build_group_moment_rollup(
    metric_df: DataFrame, field: str
) -> DataFrame:
    """Group-keyed mergeable moment partials — the tag-dimension
    sibling of build_moment_rollup: one row per group value with
    (n, Σx, Σx², Σx³, Σx⁴); power sums add across batches so per-tag
    skew/kurtosis dashboards serve from the store without raw
    rescans, like build_group_rollup/build_group_quantile_rollup."""
    v = F.col("value").cast("double")
    return metric_df.filter(F.col(field).isNotNull()).groupBy(
        F.col(field).alias("g")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )


def group_skew_from_moment_rollup(rollup: DataFrame, field: str) -> DataFrame:
    """Per-group mean/skewness/excess-kurtosis served from the group
    moment rollup — identical standardized-moment closed form (and
    expression order) as temporal_skew_from_moment_rollup; degenerate
    groups (m₂ = 0) yield NULL via try_divide."""
    return rollup.select(
        F.col("g").alias(field),
        F.col("n").cast("long").alias("n_value"),
        *_moments(F.col("n")),
    )
