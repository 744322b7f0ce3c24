"""Windowed / statistical analytics beyond the NSDb dialect (which has no
window functions or scalar stats — SURVEY.md §2.6, §2.9): per-group top-k,
moving aggregates, funnel analysis, exact percentiles, fixed-bin
histograms, and correlation stats. All built-in expressions, no UDFs.

Scale notes per operator are on the docstrings; the common theme: one
shuffle keyed on the partition column (Catalyst's partial aggregation or
the Window exchange), everything else narrow.
"""
from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .rounds import Rounds


def topk_per_group(
    df: DataFrame,
    part: str,
    order_col: str,
    k: int,
    tie: str,
    descending: bool = True,
) -> DataFrame:
    """Adds `rn` and keeps the top-k rows per `part` by `order_col`
    (ties broken by `tie` ascending — deterministic output).

    Plan: one hash-exchange on `part`, per-partition sort, running
    row_number — the rank filter cuts inside the window stage so only k
    rows per group survive to downstream operators.
    """
    order = [
        F.col(order_col).desc() if descending else F.col(order_col).asc(),
        F.col(tie).asc(),
    ]
    w = Window.partitionBy(part).orderBy(*order)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def moving_aggregate(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    tie: str,
    preceding: int = 3,
) -> DataFrame:
    """Per-key time-ordered moving average (current row + `preceding`
    previous rows) and running cumulative sum. Order is (ts, tie) so frames
    are deterministic under duplicate timestamps.

    Output: key, ts, tie, value, mov_avg (round 4), cum_sum (round 3), rn.
    One exchange on `key`; both frames share the same sort. mov_avg rounds
    at 4 decimals: with 2-decimal inputs a frame average over 1/2/4 rows is
    exactly a 4-decimal number (never a rounding half-way case), while 3
    decimals would sit exactly on .xxx5 for /4 frames and flip per-engine.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(tie).asc())
    frame = w.rowsBetween(-preceding, 0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return df.select(
        key,
        ts,
        tie,
        value,
        F.round(F.avg(value).over(frame), 4).alias("mov_avg"),
        F.round(F.sum(value).over(run), 3).alias("cum_sum"),
        F.row_number().over(w).alias("rn"),
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    user: str = "user_id",
    ts: str = "timestamp",
    type_col: str = "event_type",
    within_ms: int | None = None,
) -> DataFrame:
    """Ordered-funnel timestamps: for each user that performed steps[0],
    the earliest time of each subsequent step occurring STRICTLY AFTER the
    previous step's matched time (classic sequential funnel; NULL = user
    dropped out at that stage). With `within_ms`, each step must also
    land AT MOST that far after the previous step's match — the
    conversion-window variant every product funnel actually uses ("click
    within 7 days of signup"): a user whose next step is too late counts
    as dropped, exactly like a user who never did it.

    Output: (user, ts_<step0>, ts_<step1>, ...). Each stage is a
    co-partitioned join on the user key plus a min-aggregate — partial
    aggregation keeps the shuffle at one row per surviving user per
    stage; the window bound is a row filter on the same join, no extra
    shuffle.
    """
    base = events.select(user, type_col, ts)
    out = (
        base.filter(F.col(type_col) == steps[0])
        .groupBy(user)
        .agg(F.min(ts).alias(f"ts_{steps[0]}"))
    )
    prev = f"ts_{steps[0]}"
    for step in steps[1:]:
        cond = F.col(ts) > F.col(prev)
        if within_ms is not None:
            cond = cond & (F.col(ts) <= F.col(prev) + F.lit(within_ms))
        nxt = (
            base.filter(F.col(type_col) == step)
            .join(out.select(user, prev), user)
            .filter(cond)
            .groupBy(user)
            .agg(F.min(ts).alias(f"ts_{step}"))
        )
        out = out.join(nxt, user, "left")
        prev = f"ts_{step}"
    return out


def group_percentiles(
    df: DataFrame,
    part: str,
    value: str,
    ps: list[float] = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """Exact linear-interpolation percentiles per group (Spark `percentile`
    ≡ DuckDB `quantile_cont`): ONE array-percentile aggregate — a single
    per-group value buffer sorted once, vs one buffer + sort per requested
    percentile with separate aggregates (measured 2.3× slower) — then the
    array unpacks into columns post-agg.

    Output: (part, n, p25, p5, ... rounded to 6).
    """
    plist = ", ".join(str(p) for p in ps)
    agged = df.groupBy(part).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"percentile({value}, array({plist}))").alias("__ps"),
    )
    cols = [part, "n"] + [
        F.round(F.col("__ps")[i], 6).alias(f"p{str(p).replace('0.', '')}")
        for i, p in enumerate(ps)
    ]
    return agged.select(*cols)


def histogram(
    df: DataFrame,
    value: str,
    lo: float,
    hi: float,
    nbins: int,
) -> DataFrame:
    """Fixed-bin histogram: bin i covers [lo + i*w, lo + (i+1)*w) with the
    last bin closed at hi. Output: (bin, lo_edge, hi_edge, n,
    sum_value rounded 3). Bin assignment is a pure projection; the count
    is a map-side-combinable nbins-row aggregate — the ideal 100 TB shape.
    """
    if nbins <= 0:
        raise ValueError("nbins must be positive")
    w = (hi - lo) / nbins
    # constant range (hi == lo): one degenerate bin instead of an ANSI
    # divide-by-zero (the psi_by_group guard, applied here too)
    bin_col = (
        F.lit(0)
        if w == 0
        else F.least(F.floor((F.col(value) - lo) / F.lit(w)), F.lit(nbins - 1))
    ).cast("int")
    return (
        df.filter((F.col(value) >= lo) & (F.col(value) <= hi))
        .groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value), 3).alias("sum_value"),
        )
        .select(
            "bin",
            F.round(F.col("bin") * w + lo, 6).alias("lo_edge"),
            F.round(F.col("bin") * w + lo + w, 6).alias("hi_edge"),
            "n",
            "sum_value",
        )
    )


def group_stats(df: DataFrame, part: str, x: str, y: str) -> DataFrame:
    """Bivariate stats per group: Pearson correlation (round 6), sample
    covariance and stddevs (round 3), count. Single-pass co-moment
    aggregates (numerically stable partial merges) — one tiny-result
    shuffle regardless of input size.
    """
    return df.groupBy(part).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr(x, y), 6).alias("corr_xy"),
        F.round(F.covar_samp(x, y), 3).alias("covar_xy"),
        F.round(F.stddev_samp(x), 3).alias("stddev_x"),
        F.round(F.stddev_samp(y), 3).alias("stddev_y"),
    )


def retention_cohorts(
    events: DataFrame,
    bucket_ms: int,
    user: str = "user_id",
    ts: str = "timestamp",
) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the bucket of their
    FIRST event; each (cohort, offset) cell counts users from that cohort
    active `offset` buckets later — the standard product-analytics
    retention table.

    Output: (cohort_start, offset, n_users). Two map-side-combinable
    aggregates (first-seen per user, distinct active buckets per user) and
    one co-partitioned join on the user key; the result is cohorts ×
    offsets rows — tiny regardless of event volume.
    """
    b = F.floor(F.col(ts) / F.lit(bucket_ms)).cast("long")
    firsts = events.groupBy(user).agg(F.min(b).alias("cohort"))
    active = events.select(F.col(user), b.alias("b")).distinct()
    return (
        active.join(firsts, user)
        .groupBy(
            (F.col("cohort") * bucket_ms).alias("cohort_start"),
            (F.col("b") - F.col("cohort")).alias("offset"),
        )
        # (user, b) is distinct and a user has one cohort, so count(*) is
        # already a distinct-user count — no count(DISTINCT) expand needed
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def equidepth_histogram(
    df: DataFrame,
    value: str,
    nbins: int,
) -> DataFrame:
    """Equi-depth (quantile-edged) histogram: interior cut points are the
    exact i/nbins quantiles (linear interpolation — Spark `percentile` ≡
    DuckDB `quantile_cont`); row → bin = number of cuts strictly below its
    value, so ties always land in the lower bin deterministically.
    NULL values are excluded up front (histogram/psi_by_group parity):
    the quantile cuts already ignore them, so counting them — they'd
    land in bin 0 via the three-valued `NULL > e` — would silently
    break the equal-depth property.

    Output: (bin, n, min_value, max_value). Scale shape: the cut points
    are ONE array-percentile aggregate (a single per-group buffer — at
    true 100 TB swap in approx_percentile for a mergeable sketch), then a
    1-row broadcast cross join and a map-side-combinable nbins-row count.
    Unlike a global ntile (single-partition window sort), no stage ever
    sees more than one partition's rows.
    """
    if nbins <= 0:
        raise ValueError("nbins must be positive")
    df = df.filter(F.col(value).isNotNull())
    if nbins == 1:
        # no interior cuts: percentile(value, array()) fails analysis —
        # degenerate to the single full-range bin directly
        return df.agg(
            F.lit(0).alias("bin"),
            F.count(F.lit(1)).alias("n"),
            F.min(value).alias("min_value"),
            F.max(value).alias("max_value"),
        )
    cuts = [i / nbins for i in range(1, nbins)]
    plist = ", ".join(str(p) for p in cuts)
    # Round interpolated cut points to 6 decimals so a sub-ulp difference
    # between engines' percentile interpolation can't flip a boundary row
    # into the adjacent bin (cross-engine determinism discipline).
    edges = df.agg(
        F.transform(
            F.expr(f"percentile({value}, array({plist}))"),
            lambda e: F.round(e, 6),
        ).alias("__edges")
    )
    bin_col = F.aggregate(
        F.col("__edges"),
        F.lit(0),
        lambda acc, e: acc + F.when(F.col(value) > e, 1).otherwise(0),
    )
    return (
        df.crossJoin(F.broadcast(edges))
        .groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(value).alias("min_value"),
            F.max(value).alias("max_value"),
        )
    )


def scrub_numbers(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """PII-style scrubbing primitive: mask every digit run with '#' and
    report the match count — the shape of redaction passes (emails, phone
    numbers, SSNs) in training-data pipelines; swap the pattern for real
    PII regexes. Output: (id, n_masked, digest of scrubbed text). Pure
    projection — no shuffle, pipelines with the scan.
    """
    pat = "[0-9]+"
    return df.select(
        F.col(id_col),
        F.regexp_count(F.col(text_col), F.lit(pat)).cast("int").alias("n_masked"),
        F.md5(F.regexp_replace(F.col(text_col), pat, "#")).alias("scrub_digest"),
    )


def robust_stats(
    df: DataFrame,
    part: str,
    value: str,
) -> DataFrame:
    """Outlier-resistant per-group statistics: median, MAD (median absolute
    deviation from the median), and the 10%-trimmed mean (mean of values
    within the [p10, p90] band) — the robust counterparts of
    group_stats/group_percentiles for skewed telemetry.

    Inherently two passes (deviations need the median first): pass one is
    a single array-percentile aggregate per group (p10/median/p90), whose
    tiny result broadcasts back onto the rows; pass two re-aggregates
    deviations and the trimmed band. Two shuffles total, each carrying
    one row per group.
    """
    p1 = df.groupBy(part).agg(
        F.expr(f"percentile({value}, array(0.1, 0.5, 0.9))").alias("__p")
    )
    joined = df.join(
        F.broadcast(
            p1.select(
                part,
                F.col("__p")[0].alias("__p10"),
                F.col("__p")[1].alias("__med"),
                F.col("__p")[2].alias("__p90"),
            )
        ),
        part,
    )
    return joined.groupBy(part).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.first("__med"), 6).alias("median"),
        F.round(
            F.expr(f"percentile(abs({value} - __med), 0.5)"), 6
        ).alias("mad"),
        # round 3, not 6: an avg over many doubles is FP-accumulation —
        # partial-merge order differs between engines (median/mad are
        # order statistics and stay at 6)
        F.round(
            F.avg(
                F.when(
                    (F.col(value) >= F.col("__p10")) & (F.col(value) <= F.col("__p90")),
                    F.col(value),
                )
            ),
            3,
        ).alias("trimmed_mean"),
    )


def transition_counts(
    events: DataFrame,
    user: str = "user_id",
    ts: str = "timestamp",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order journey transition matrix: for each user's events in
    (ts, id) order, count consecutive (prev_type → type) steps across the
    whole population — the input to Markov-chain attribution / journey
    mining. Output: (prev_type, next_type, n).

    One hash exchange on the user key (the lag window), then a
    map-side-combinable count on the |types|² matrix — the result is tiny
    regardless of event volume.
    """
    w = Window.partitionBy(user).orderBy(F.col(ts).asc(), F.col(id_col).asc())
    steps = events.select(
        F.lag(type_col).over(w).alias("prev_type"),
        F.col(type_col).alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    return steps.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n"))


def active_users(
    events: DataFrame,
    bucket_ms: int,
    window_buckets: int = 7,
    user: str = "user_id",
    ts: str = "timestamp",
) -> DataFrame:
    """Exact DAU/WAU-style rolling engagement: for every bucket (day),
    the count of distinct users active in that bucket (`dau`) and in the
    trailing `window_buckets` buckets (`wau`). A rolling DISTINCT is not
    a sum of per-bucket counts (users repeat), so each (user, bucket)
    presence CONTRIBUTES ITSELF to the next `window_buckets` buckets via
    a bounded explode, and the rolling count is again a count of distinct
    contributions — exact at any scale. The axis is every bucket whose
    trailing window covers ANY activity: a gap bucket surfaces as
    (dau=0, wau>0) instead of a hole in the dashboard.

    Shuffle shape: dedup to (user, bucket) presence (one partial-agg
    exchange — rows = users × active buckets), a ≤window_buckets-way
    narrow fan-out, and one final per-bucket count; no window over a
    global sort, no set unions through the driver. Output: (bucket_start,
    dau, wau) for buckets the data actually touches.
    """
    b = F.floor(F.col(ts) / F.lit(bucket_ms)).cast("long")
    with Rounds(events.sparkSession) as r:
        present = r.pin(events.select(F.col(user), b.alias("b")).distinct())
        dau = present.groupBy("b").agg(F.count(F.lit(1)).alias("dau"))
        bounds = present.agg(F.min("b"), F.max("b")).first()
        lo, hi = bounds[0], bounds[1]
        if lo is None:
            return events.sparkSession.createDataFrame(
                [], "bucket_start long, dau long, wau long"
            )
        contrib = (
            present.select(
                F.col(user),
                F.explode(
                    F.sequence(F.col("b"), F.least(F.col("b") + (window_buckets - 1), F.lit(hi)))
                ).alias("b"),
            )
            .distinct()
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("wau"))
        )
        out = (
            # drive from contrib: a gap bucket (nobody active THAT day but
            # users active within the trailing window) must surface as
            # (dau=0, wau>0) — an inner join would silently drop it and a
            # WAU dashboard would show a hole where the window is unchanged
            contrib.join(dau, "b", "left")
            .select(
                (F.col("b") * bucket_ms).alias("bucket_start"),
                F.coalesce("dau", F.lit(0)).alias("dau"),
                "wau",
            )
        )
        return r.finish(out)  # buckets-count rows


def psi_by_group(
    df: DataFrame,
    group: str = "source",
    value: str = "n_chars",
    nbins: int = 10,
) -> DataFrame:
    """(group, n, psi) — population stability index of each group's
    value distribution against the whole population: PSI =
    Σ_b (p_b - q_b)·ln(p_b/q_b) over equal-width bins — the standard
    drift monitor ("which domain's length/quality profile diverges from
    the corpus?"); rule-of-thumb alert at 0.2.

    Laplace-smoothed (+0.5 per bin) so empty bins contribute finitely.
    Plan: one tiny bounds/total aggregate collected to three driver
    scalars, then ONE (group, bin) count over the data — map-side
    combinable, output bounded by groups × nbins — with the population
    histogram derived from it; the corpus is scanned exactly once for
    the histogram. A constant value column (hi == lo) degenerates to a
    single bin (groups differ only by the smoothing floor) instead of
    dividing by zero.
    """
    # three bounded scalars via one tiny aggregate (the dsir/centroid
    # collect discipline) — lo/hi/total ride as literals, so the corpus
    # is scanned exactly once (the (group, bin) count below)
    # NULL group keys would silently vanish from the output (null-unsafe
    # equi-joins below) while still inflating the population baseline —
    # exclude those rows from BOTH sides so the reference distribution
    # matches the segments it is compared against. Same for NULL values:
    # they land in no bin, so counting them into totn would deflate every
    # q_b — both distributions must be built over exactly the binned rows
    df = df.filter(F.col(group).isNotNull() & F.col(value).isNotNull())
    row = df.agg(
        F.min(value).alias("lo"),
        F.max(value).alias("hi"),
        F.count(F.lit(1)).alias("nt"),
    ).first()
    lo, hi, totn = row["lo"], row["hi"], int(row["nt"] or 0)
    if totn == 0:
        # build the empty frame from the INPUT's group column type: a
        # hardcoded string here would diverge from the non-empty output
        # schema for numeric group keys and break downstream unions
        return df.select(group).limit(0).select(
            F.col(group),
            F.lit(None).cast("long").alias("n"),
            F.lit(None).cast("double").alias("psi"),
        )
    width = (hi - lo) / nbins
    # constant column (hi == lo): every value lands in bin 0 instead of
    # an ANSI divide-by-zero. (PSI is then near-zero, not exactly 0:
    # Laplace smoothing still spreads 0.5-counts over the empty bins of
    # the dense grid, so groups whose n differs from totn keep a tiny
    # residual — by design, the smoothing is part of the estimator.)
    b = (
        F.lit(0)
        if width == 0
        else F.least(
            F.floor((F.col(value) - F.lit(lo)) / F.lit(width)), F.lit(nbins - 1)
        )
    )
    binned = df.select(F.col(group), b.cast("int").alias("b"))
    gb = binned.groupBy(group, "b").agg(F.count(F.lit(1)).alias("c"))
    tot = gb.groupBy("b").agg(F.sum("c").alias("ct"))
    # dense (group x bin) grid so absent bins smooth instead of vanish
    groups = gb.select(group).distinct()
    spark = df.sparkSession
    bins = spark.range(nbins).select(F.col("id").cast("int").alias("b"))
    grid = groups.crossJoin(F.broadcast(bins))
    full = (
        grid.join(gb, [group, "b"], "left")
        .join(F.broadcast(tot), "b", "left")
        .select(
            group,
            "b",
            F.coalesce("c", F.lit(0)).alias("c"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
    )
    gn = full.groupBy(group).agg(F.sum("c").alias("n"))
    contrib = (
        full.join(F.broadcast(gn), group)
        .select(
            group,
            "n",
            (
                ((F.col("c") + 0.5) / (F.col("n") + 0.5 * nbins))
                - ((F.col("ct") + 0.5) / (F.lit(float(totn)) + 0.5 * nbins))
            ).alias("dp"),
            F.log(
                ((F.col("c") + 0.5) / (F.col("n") + 0.5 * nbins))
                / ((F.col("ct") + 0.5) / (F.lit(float(totn)) + 0.5 * nbins))
            ).alias("lr"),
        )
    )
    return (
        contrib.groupBy(group, "n")
        .agg(F.round(F.sum(F.col("dp") * F.col("lr")), 6).alias("psi"))
        .select(group, "n", "psi")
    )


def _two_sample_cum_frame(
    df: DataFrame, value: str, group: str, a: str, b: str, caller: str
) -> tuple[DataFrame, int, int]:
    """Shared distributed-CDF machinery for the two-sample rank tests
    (ks_two_sample, mannwhitney_u): per-distinct-value counts of each
    sample with GLOBAL cumulative counts attached, without a global
    window. Returns (frame, n_a, n_b); frame columns: v, ca, cb (counts
    at v), la+off_a / lb+off_b (global cumulative counts at-or-below v).

    A global ordered cumulative is the naive plan — and a
    single-partition window, dead at scale. Instead the SAME two-phase
    global-scan shape as pack_sequences (packing.partition_offsets):
    collapse to per-distinct-value counts (map-side combinable), range-
    partition by value, LOCAL per-partition cumsums, then broadcast the
    P per-partition subtotals as offsets. No data-sized state ever
    crosses the driver; P ≈ shuffle partitions.
    """
    s = df.filter(
        F.col(group).isin(a, b) & F.col(value).isNotNull()
    ).select(
        F.col(value).alias("v"),
        F.when(F.col(group) == a, F.lit(1)).otherwise(F.lit(0)).alias("ia"),
    )
    g = s.groupBy("v").agg(
        F.sum("ia").cast("long").alias("ca"),
        (F.count(F.lit(1)) - F.sum("ia")).cast("long").alias("cb"),
    )
    # checkpoint BEFORE deriving offsets: repartitionByRange samples its
    # boundaries per job, so subtotals from one evaluation joined to
    # local cumsums from another would silently shift every offset
    # (the partition_offsets contract)
    d = (
        g.repartitionByRange("v")
        .sortWithinPartitions("v")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("la", F.sum("ca").over(w)).withColumn(
        "lb", F.sum("cb").over(w)
    )
    # ONE job yields both offset tables AND the totals (P driver rows);
    # same missing-pid/empty-partition discipline as partition_offsets
    subtotals = {
        r["pid"]: (r["sa"] or 0, r["sb"] or 0)
        for r in d.groupBy("pid").agg(
            F.sum("ca").alias("sa"), F.sum("cb").alias("sb")
        ).collect()
    }
    offsets, acc_a, acc_b = [], 0, 0
    for pid in range(max(subtotals, default=-1) + 1):
        offsets.append((pid, acc_a, acc_b))
        sa, sb = subtotals.get(pid, (0, 0))
        acc_a += sa
        acc_b += sb
    off = d.sparkSession.createDataFrame(
        offsets or [(0, 0, 0)], "pid int, off_a long, off_b long"
    )
    na, nb = acc_a, acc_b
    if na == 0 or nb == 0:
        raise ValueError(
            f"{caller}: empty sample (n_a={na}, n_b={nb}) — both "
            f"groups {a!r} and {b!r} need at least one non-null value"
        )
    return d.join(F.broadcast(off), "pid"), na, nb


def ks_two_sample(
    df: DataFrame, value: str, group: str, a: str, b: str
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic, distributed:
    D = max_x |F_a(x) - F_b(x)| over the pooled sample points, where
    F_s is the empirical CDF of `value` within group == s. The drift
    test PSI can't give you when you refuse to bin (psi_by_group bins;
    KS is binning-free and distribution-shape-agnostic). Plan shape:
    see _two_sample_cum_frame (no global window, no data-sized driver
    state).

    Returns one row: (ks_stat double rounded to 6, n_a, n_b bigint).
    Cumulative counts are exact integers, so the statistic is
    bit-deterministic and SQL-oracle-checkable.
    """
    joined, na, nb = _two_sample_cum_frame(
        df, value, group, a, b, "ks_two_sample"
    )
    return joined.groupBy().agg(
        F.round(
            F.max(
                F.abs(
                    (F.col("la") + F.col("off_a")) / F.lit(float(na))
                    - (F.col("lb") + F.col("off_b")) / F.lit(float(nb))
                )
            ),
            6,
        ).alias("ks_stat"),
        F.max(F.lit(na)).cast("long").alias("n_a"),
        F.max(F.lit(nb)).cast("long").alias("n_b"),
    )


def mannwhitney_u(
    df: DataFrame, value: str, group: str, a: str, b: str
) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) statistic for sample `a`
    vs sample `b`, with average ranks for ties — the KS sibling that is
    sensitive to location shift rather than any CDF gap. Same
    _two_sample_cum_frame scan, zero extra shuffles.

    Ranks never materialize per row: for a distinct value v with counts
    (ca, cb), the pooled ranks it occupies are
    [cum_before+1, cum_before+ca+cb], so its average rank is
    cum_before + (ca+cb+1)/2 and sample a's rank sum is
    Σ ca·avg_rank. Doubling everything keeps the arithmetic in exact
    bigints (2·avg_rank = 2·cum_before + ca + cb + 1), so the statistic
    is bit-deterministic: U_a = (Σ ca·(2·cum_before + ca + cb + 1)
    - n_a·(n_a+1)) / 2 — halves are exact doubles.

    Returns one row: (u_a double, r_a double [rank sum], n_a, n_b).
    """
    joined, na, nb = _two_sample_cum_frame(
        df, value, group, a, b, "mannwhitney_u"
    )
    cum_before = (
        F.col("la") + F.col("off_a") - F.col("ca")
        + F.col("lb") + F.col("off_b") - F.col("cb")
    )
    # per-term products reach ~2n² and the sum ~n·2n — int64 dies near
    # n ≈ 3e9 rows, so the accumulation runs in decimal(38,0) (exact to
    # 1e38, mirroring DuckDB's hugeint sum); the statistic itself is
    # reported as double either way, identical wherever bigint sufficed
    two_rank_sum = F.sum(
        F.col("ca").cast("decimal(38,0)")
        * (2 * cum_before + F.col("ca") + F.col("cb") + 1).cast("decimal(38,0)")
    ).cast("decimal(38,0)")
    return joined.groupBy().agg(
        # na*(na+1) computed in Python (exact bigint; a 32-bit Spark
        # literal product would overflow around n_a ≈ 46k)
        ((two_rank_sum - F.lit(na * (na + 1))) / F.lit(2.0)).alias("u_a"),
        (two_rank_sum / F.lit(2.0)).alias("r_a"),
        F.max(F.lit(na)).cast("long").alias("n_a"),
        F.max(F.lit(nb)).cast("long").alias("n_b"),
    )


def wasserstein_1d(
    df: DataFrame, value: str, group: str, a: str, b: str
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between the
    empirical distributions of `value` in group `a` vs group `b`:
    W1 = ∫ |F_a(x) - F_b(x)| dx — the drift METRIC the KS statistic
    isn't (KS reports the worst pointwise CDF gap; W1 reports how much
    mass must move how far, in the value's own units, so a 2× location
    shift reads as 2× the distance).

    Same _two_sample_cum_frame scan as ks/mwu. The integral is the sum
    over consecutive distinct pooled values of |cumdiff(v_i)| ·
    (v_{i+1} - v_i), which needs each row's NEXT distinct value: a
    lead() inside each range partition covers all but the partition's
    last row, and that row's successor is the next non-empty
    partition's minimum — P driver rows (partition mins), the same
    bounded-boundary discipline as partition_offsets. The globally
    largest value has |F_a - F_b| = 0 (both CDFs have reached 1), so
    its missing gap contributes nothing by construction.

    Returns one row: (w1_dist double rounded to 6, n_a, n_b bigint).
    """
    joined, na, nb = _two_sample_cum_frame(
        df, value, group, a, b, "wasserstein_1d"
    )
    # per-partition minimum v: P rows (bounded), one job over the
    # already-checkpointed distinct-value frame
    mins = {
        r["pid"]: r["mv"]
        for r in joined.groupBy("pid").agg(F.min("v").alias("mv")).collect()
    }
    pids = sorted(mins)
    boundary_rows = [
        (int(p), mins[pids[i + 1]]) for i, p in enumerate(pids[:-1])
    ]
    from pyspark.sql import types as T

    vtype = joined.schema["v"].dataType
    bdf = df.sparkSession.createDataFrame(
        boundary_rows,
        T.StructType(
            [
                T.StructField("pid", T.IntegerType()),
                T.StructField("next_min", vtype),
            ]
        ),
    ) if boundary_rows else df.sparkSession.createDataFrame(
        [], T.StructType([T.StructField("pid", T.IntegerType()),
                          T.StructField("next_min", vtype)])
    )
    w = Window.partitionBy("pid").orderBy("v")
    gap = (
        F.coalesce(F.lead("v").over(w), F.col("next_min")) - F.col("v")
    ).cast("double")
    cumdiff = F.abs(
        (F.col("la") + F.col("off_a")) / F.lit(float(na))
        - (F.col("lb") + F.col("off_b")) / F.lit(float(nb))
    )
    return (
        joined.join(F.broadcast(bdf), "pid", "left")
        .withColumn("gap", F.coalesce(gap, F.lit(0.0)))
        .groupBy()
        .agg(
            F.round(F.sum(cumdiff * F.col("gap")), 6).alias("w1_dist"),
            F.max(F.lit(na)).cast("long").alias("n_a"),
            F.max(F.lit(nb)).cast("long").alias("n_b"),
        )
    )


def cvm_two_sample(
    df: DataFrame, value: str, group: str, a: str, b: str
) -> DataFrame:
    """Two-sample Cramér-von Mises criterion, tie-aware pooled form:
    T = (n_a·n_b / N²) · Σ_v (c_a(v)+c_b(v)) · (F_a(v) - F_b(v))²
    — the whole-distribution drift test between KS (max gap only) and
    W1 (unnormalized, unit-bearing): every pooled observation's squared
    CDF gap counts, so persistent moderate divergence registers even
    when no single point's gap is extreme. For untied samples this is
    Anderson's classic two-sample T (Anderson, "On the distribution of
    the two-sample Cramér-von Mises criterion", 1962); ties collapse to
    distinct-value blocks weighted by their pooled multiplicity.

    Same single _two_sample_cum_frame scan as ks/mwu/wasserstein — no
    extra shuffle, no boundary state at all (each row's own cumulative
    is all the formula needs).

    Returns one row: (cvm_stat double rounded to 6, n_a, n_b bigint).
    """
    joined, na, nb = _two_sample_cum_frame(
        df, value, group, a, b, "cvm_two_sample"
    )
    d = (
        (F.col("la") + F.col("off_a")) / F.lit(float(na))
        - (F.col("lb") + F.col("off_b")) / F.lit(float(nb))
    )
    n_tot = float(na + nb)
    scale = float(na) * float(nb) / (n_tot * n_tot)
    return joined.groupBy().agg(
        F.round(
            F.lit(scale) * F.sum((F.col("ca") + F.col("cb")) * d * d), 6
        ).alias("cvm_stat"),
        F.max(F.lit(na)).cast("long").alias("n_a"),
        F.max(F.lit(nb)).cast("long").alias("n_b"),
    )


def category_diversity(
    df: DataFrame, group: str, cat: str
) -> DataFrame:
    """Per-group diversity of a categorical column: distinct category
    count, Shannon entropy (nats), and Gini impurity of the category
    distribution — the corpus-balance dashboard for a training mix
    ("how lang-diverse is each source?").

    Plan: one map-side-combinable groupBy on (group, cat) collapses the
    corpus to the |groups x cats| grid, a second tiny groupBy derives
    per-group totals, and the grid joins back to its totals (AQE
    broadcasts the totals side). NULL categories are excluded from the
    distribution, mirroring entropy over observed categories; groups
    whose rows are all-NULL drop out entirely.
    """
    counts = (
        df.filter(F.col(cat).isNotNull() & F.col(group).isNotNull())
        .groupBy(group, cat)
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    totals = counts.groupBy(group).agg(F.sum("ct").alias("tot"))
    p = F.col("ct") / F.col("tot")
    return (
        counts.join(totals, group)
        .groupBy(group)
        .agg(
            F.count(F.lit(1)).alias("n_cats"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
            F.round(F.lit(1.0) - F.sum(p * p), 6).alias("gini"),
        )
    )


def chi2_independence(
    df: DataFrame, x: str, y: str, effect_size: bool = False
) -> DataFrame:
    """Pearson chi-squared test of independence between two categorical
    columns: X² = Σ_cells (obs − exp)²/exp with exp = row·col/n, plus
    the degrees of freedom (R−1)(C−1) — "is language independent of
    source?" is the intake-balance question behind a stratified corpus.

    Plan: ONE map-side-combinable groupBy collapses the corpus to the
    R×C contingency grid; margins are two tiny aggregates of that grid
    joined back (broadcast); everything after the first shuffle is
    grid-sized. NULL categories are excluded pairwise. Returns one row:
    (chi2 double rounded 6, dof bigint, n bigint).

    Empty cells COUNT: the grid only materializes nonzero cells, so the
    sum uses the algebraic identity X² = Σ obs²/exp − n (expand
    (obs−exp)²/exp and use Σ_full-grid exp = n) — the zero-obs cells'
    (0−exp)²/exp mass lands in the −n term without ever materializing
    the R×C cross product. The identity subtracts two ~n-sized
    quantities, so a near-independent table's tiny X² carries absolute
    FP error ~n·2⁻⁵², which can dip the raw value below zero — both
    engines clamp at 0 (X² is nonnegative by definition), which also
    keeps Cramér's V's sqrt off negative inputs. Past n ≈ 1e10 rows
    that error exceeds the 6-decimal oracle grain for near-zero X²;
    large X² values (the ones decisions ride on) keep full relative
    precision.

    effect_size=True appends Cramér's V = sqrt((X²/n)/(min(R,C)−1)),
    the [0,1] association STRENGTH a p-value can't give you at scale
    (every chi2 is "significant" at 100 TB rows; V stays comparable
    across n). V derives from the ROUNDED chi2 so the value is
    bit-reproducible across engines.
    """
    with Rounds(df.sparkSession) as r:
        grid = r.pin(
            df.filter(F.col(x).isNotNull() & F.col(y).isNotNull())
            .groupBy(x, y)
            .agg(F.count(F.lit(1)).alias("obs"))
        )
        rm = grid.groupBy(x).agg(F.sum("obs").alias("rtot"))
        cm = grid.groupBy(y).agg(F.sum("obs").alias("ctot"))
        tot = grid.agg(
            F.sum("obs").alias("n"),
            F.count_distinct(x).alias("nr"),
            F.count_distinct(y).alias("nc"),
            F.least(F.count_distinct(x), F.count_distinct(y)).alias("minrc"),
        )
        # rtot/ctot are longs; their raw product overflows int64 once both
        # margins pass ~3e9 (trivially reached at 100 TB) — route through
        # double (the oracle's hugeint intermediate is exact, but chi2 rounds
        # at 6 so the ~1e-16 relative double error is far below the output
        # grain; both engines agree wherever bigint didn't overflow)
        exp = F.col("rtot").cast("double") * F.col("ctot") / F.col("n")
        out = (
            grid.join(F.broadcast(rm), x)
            .join(F.broadcast(cm), y)
            .crossJoin(F.broadcast(tot))
            .groupBy()
            .agg(
                F.greatest(
                    F.round(
                        F.sum(F.col("obs").cast("double") * F.col("obs") / exp)
                        - F.max("n"),
                        6,
                    ),
                    F.lit(0.0),
                ).alias("chi2"),
                F.max((F.col("nr") - 1) * (F.col("nc") - 1))
                .cast("long")
                .alias("dof"),
                F.max("n").cast("long").alias("n"),
                F.max("minrc").cast("long").alias("__minrc"),
            )
        )
        if effect_size:
            out = out.select(
                "chi2",
                "dof",
                # a 1-category column gives dof 0; V is undefined -> 0.0,
                # never a division error
                F.when(
                    F.col("__minrc") > 1,
                    F.round(
                        F.sqrt(
                            F.col("chi2")
                            / F.col("n")
                            / (F.col("__minrc") - F.lit(1))
                        ),
                        6,
                    ),
                )
                .otherwise(F.lit(0.0))
                .alias("cramers_v"),
                "n",
            )
        else:
            out = out.drop("__minrc")
        return r.finish(out)


def welch_ttest(
    df: DataFrame, value: str, group: str, a: str, b: str
) -> DataFrame:
    """Welch's two-sample t-test (unequal variances) for `value` between
    group == a and group == b: t = (m_a − m_b) / sqrt(v_a/n_a + v_b/n_b)
    with Welch–Satterthwaite degrees of freedom. The parametric sibling
    of ks_two_sample / mannwhitney_u — sensitive to a mean shift when
    the distributions are roughly bell-shaped, and the cheapest of the
    three: ONE map-side-combinable aggregate over the two samples (no
    distinct-value grid, no rank scan), so at 100 TB it is a single
    partial+final HashAggregate pass.

    Variance uses the sum/sumsq decomposition ((Σx² − (Σx)²/n)/(n−1)) on
    both the Spark and oracle sides so the arithmetic is the same
    formula; t rounds at 6 decimals, means at 4, dof at 2 (dof is
    O(n)-sized, so 2 decimals sits far above the Σx² summation-order
    noise while t and the means are O(1)/O(values)). NULL values are
    excluded (their group contributes nothing). Returns one row:
    (t_stat, dof, mean_a, mean_b, n_a, n_b).
    """
    stats = (
        df.filter(F.col(group).isin(a, b) & F.col(value).isNotNull())
        .groupBy(group)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value).cast("double")).alias("s"),
            F.sum(F.col(value).cast("double") * F.col(value)).alias("ss"),
        )
    )
    # pivot the 2-row stats frame into one row of scalars (a tiny
    # conditional aggregate, not a collect — keeps the plan lazy)
    def side(tag: str, expr: Column) -> Column:
        return F.max(F.when(F.col(group) == tag, expr))

    one = stats.groupBy().agg(
        side(a, F.col("n")).alias("na"),
        side(b, F.col("n")).alias("nb"),
        side(a, F.col("s") / F.col("n")).alias("ma"),
        side(b, F.col("s") / F.col("n")).alias("mb"),
        # try_divide: a 1-sample group has n-1 = 0 — its variance (and
        # every downstream statistic) is NULL, matching DuckDB's
        # NULL-on-/0, not an ANSI DIVIDE_BY_ZERO that kills the query
        side(a, F.try_divide(
            F.col("ss") - F.col("s") * F.col("s") / F.col("n"),
            F.col("n") - 1)).alias("va"),
        side(b, F.try_divide(
            F.col("ss") - F.col("s") * F.col("s") / F.col("n"),
            F.col("n") - 1)).alias("vb"),
    )
    sea = F.col("va") / F.col("na")
    seb = F.col("vb") / F.col("nb")
    se2 = sea + seb
    # se2 = 0 when both samples are constant — t/dof NULL via try_divide
    dof = F.try_divide(
        se2 * se2,
        sea * sea / (F.col("na") - 1) + seb * seb / (F.col("nb") - 1),
    )
    return one.select(
        F.round(
            F.try_divide(F.col("ma") - F.col("mb"), F.sqrt(se2)), 6
        ).alias("t_stat"),
        F.round(dof, 2).alias("dof"),
        F.round("ma", 4).alias("mean_a"),
        F.round("mb", 4).alias("mean_b"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
    )


def welch_anova(
    df: DataFrame, value: str, group: str
) -> DataFrame:
    """Welch's one-way ANOVA (unequal variances) across ALL groups of
    `group` — the k-sample extension of welch_ttest ("does mean value
    differ across event types at all?" before pairwise tests):
    F* = Σw_j(m_j − m̄_w)²/(k−1) / (1 + 2(k−2)/(k²−1)·Σh_j) with
    w_j = n_j/v_j, m̄_w = Σw_j·m_j/Σw_j, h_j = (1−w_j/Σw)²/(n_j−1),
    and Welch–Satterthwaite-style dof₂ = (k²−1)/(3Σh_j).

    ONE map-side-combinable aggregate collapses the corpus to k rows of
    (n, Σx, Σx²) — the cheapest possible multi-group drift screen, same
    sum/sumsq decomposition as welch_ttest on both engines. Groups with
    n < 2 or zero variance drop (their w_j is undefined); k after
    filtering must be ≥ 2 or the single row is NULL via try_divide.
    Returns one row: (f_stat r6, dof1, dof2 r2, k, n_total).
    """
    stats = (
        df.filter(F.col(value).isNotNull() & F.col(group).isNotNull())
        .groupBy(group)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value).cast("double")).alias("s"),
            F.sum(F.col(value).cast("double") * F.col(value)).alias("ss"),
        )
        .filter(F.col("n") >= 2)
    )
    v = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    # pin the k-row moment frame: it feeds the weight totals AND the
    # centered pass — without the checkpoint the corpus aggregate runs
    # twice (k rows, so the pin is free)
    per = (
        stats.select(
            F.col("n"),
            (F.col("s") / F.col("n")).alias("m"),
            v.alias("v"),
        )
        .filter(F.col("v") > 0)
        .localCheckpoint(eager=True)
    )
    w = F.col("n") / F.col("v")
    # weight totals first (k-row aggregate), then a second pass over the
    # SAME k-row stats frame for the centered and h_j terms — both
    # aggregations are over k rows, so the two-pass shape is free
    tot = per.groupBy().agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_total"),
        F.sum(w).alias("sw"),
        F.sum(w * F.col("m")).alias("swm"),
    )
    joined = per.crossJoin(F.broadcast(tot))
    mw = F.col("swm") / F.col("sw")
    h = F.pow(F.lit(1.0) - w / F.col("sw"), 2) / (F.col("n") - 1)
    out = joined.groupBy("k", "n_total").agg(
        F.sum(w * (F.col("m") - mw) * (F.col("m") - mw)).alias("num"),
        F.sum(h).alias("sh"),
    )
    k = F.col("k")
    num = F.try_divide(F.col("num"), k - 1)
    den = F.lit(1.0) + (2.0 * (k - 2) / (k * k - 1)) * F.col("sh")
    return out.select(
        F.round(F.try_divide(num, den), 6).alias("f_stat"),
        (k - 1).cast("long").alias("dof1"),
        F.round(
            F.try_divide((k * k - F.lit(1.0)), 3.0 * F.col("sh")), 2
        ).alias("dof2"),
        k.cast("long").alias("k"),
        F.col("n_total").cast("long").alias("n_total"),
    )


def cube_counts(
    df: DataFrame, keys: list[str], value: str
) -> DataFrame:
    """Multi-dimensional rollup: count and sum of `value` for every
    subset of `keys` (the full CUBE lattice — per-cell, per-dimension
    marginals, and the grand total in one pass). NSDb's dialect has no
    grouping sets (SURVEY.md §2.5); this is the OLAP-dashboard shape a
    warehouse replacement needs, and Spark's `cube` plans it as ONE
    Expand + partial/final HashAggregate — 2^k grouping sets cost one
    shuffle of k× expanded rows, not k separate scans.

    NULL key semantics: a NULL cell in the output means "all values of
    that dimension" (the rolled-up marginal), matching ANSI CUBE; rows
    whose key column is genuinely NULL are excluded up front so the
    marker is unambiguous. Output: keys..., n_rows, sum_value (round 3).
    """
    cleaned = df
    for k in keys:
        cleaned = cleaned.filter(F.col(k).isNotNull())
    return cleaned.cube(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(value), 3).alias("sum_value"),
    )


def bootstrap_mean_ci(
    df: DataFrame,
    value: str,
    id_col: str,
    n_replicates: int = 32,
    alpha: float = 0.05,
) -> DataFrame:
    """Deterministic half-sample bootstrap for the mean of `value`:
    replicate r keeps the rows whose portable hash of (id, r) is even
    (an m-out-of-n bootstrap with m ≈ n/2, drawn WITHOUT replacement —
    the variant that needs no per-row random state and reproduces
    bit-identically on any engine with md5), and the CI is the
    (alpha/2, 1−alpha/2) percentile interval of the replicate means.
    The spread of half-sample means overestimates the full-sample
    standard error by ~sqrt(n/m) = sqrt(2) — callers comparing against a
    parametric SE should scale; the percentile interval is reported raw,
    as m-out-of-n bootstrap intervals conventionally are.

    Plan: the corpus explodes n_replicates× BEFORE a map-side-combinable
    (replicate → sum,count) aggregate, so the shuffle carries
    n_replicates rows per task, not the exploded data; the final
    percentile runs over n_replicates scalars. At 100 TB the cost is
    n_replicates corpus scans' worth of CPU in ONE pass — no pair joins,
    no resampled copies materialized. Replicate means round to 6 before
    the percentile so interpolation sees identical inputs cross-engine.

    Output one row: (mean, ci_lo, ci_hi, se_reps, n_rows, n_replicates).
    """
    from .dedup import portable_word_hash

    if n_replicates < 2:
        raise ValueError("n_replicates must be >= 2")
    from .dedup import _parallelize

    # _parallelize: the n_replicates x corpus explode + per-(row, r) md5
    # is the expensive stage and is NARROW (explode → filter → partial
    # agg), so without it it runs at the scan's split count; a no-op at
    # real scale
    base = _parallelize(df.filter(F.col(value).isNotNull())).select(
        F.col(id_col).alias("__id"), F.col(value).cast("double").alias("__v")
    )
    rep = F.explode(F.sequence(F.lit(0), F.lit(n_replicates - 1))).alias("r")
    key = F.concat_ws(":", F.col("__id").cast("string"), F.col("r").cast("string"))
    reps = (
        base.select("__id", "__v", rep)
        .filter(F.pmod(portable_word_hash(key), F.lit(2)) == 0)
        .groupBy("r")
        .agg(F.round(F.avg("__v"), 6).alias("m"))
    )
    lo, hi = alpha / 2.0, 1.0 - alpha / 2.0
    ci = reps.groupBy().agg(
        F.round(F.percentile("m", F.lit(lo)), 6).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(hi)), 6).alias("ci_hi"),
        F.round(F.stddev_samp("m"), 6).alias("se_reps"),
        F.count(F.lit(1)).cast("int").alias("n_replicates"),
    )
    overall = base.agg(
        F.round(F.avg("__v"), 6).alias("mean"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return overall.crossJoin(F.broadcast(ci)).select(
        "mean", "ci_lo", "ci_hi", "se_reps", "n_rows", "n_replicates"
    )


def winsorize_by_group(
    df: DataFrame,
    part: str,
    value: str,
    lo_p: float = 0.05,
    hi_p: float = 0.95,
    id_col: str = "event_id",
) -> DataFrame:
    """Per-group winsorization: clip `value` into its group's
    [lo_p, hi_p] exact percentile band — the outlier-taming step before
    means/regressions on heavy-tailed metrics (a handful of wild rows
    otherwise own the average; robust_stats MEASURES the tail, this
    REMOVES it without dropping rows).

    Plan: ONE array-percentile aggregate collapses the corpus to
    |groups| rows of clip bounds, broadcast-joined back — the corpus
    itself never shuffles (the join is on the tiny side). Bounds are
    rounded to 6 before comparing so the SQL oracle clips on the
    identical boundary. NULL values pass through unclipped (NULL
    comparisons are false → clipped = NULL via the when-chain).

    Output: (id_col, part, value, lo round 6, hi round 6,
    clipped round 6, was_clipped).
    """
    if not 0.0 <= lo_p <= hi_p <= 1.0:
        raise ValueError("need 0 <= lo_p <= hi_p <= 1")
    # ONE array-percentile buffer per group (two separate percentile
    # aggregates would sort the group's values twice — the
    # group_percentiles lesson, measured 2.3x there)
    bounds = (
        df.groupBy(part)
        .agg(F.expr(f"percentile({value}, array({lo_p}, {hi_p}))").alias("__b"))
        .select(
            part,
            F.round(F.col("__b")[0], 6).alias("lo"),
            F.round(F.col("__b")[1], 6).alias("hi"),
        )
    )
    v = F.col(value)
    clipped = (
        F.when(v < F.col("lo"), F.col("lo"))
        .when(v > F.col("hi"), F.col("hi"))
        .otherwise(F.round(v, 6))
    )
    return (
        df.join(F.broadcast(bounds), part)
        .select(
            id_col,
            part,
            value,
            "lo",
            "hi",
            clipped.alias("clipped"),
            ((v < F.col("lo")) | (v > F.col("hi"))).alias("was_clipped"),
        )
    )


def benford_digit_audit(df: DataFrame, value: str) -> DataFrame:
    """First-digit (Benford) audit of a positive measure column: observed
    leading-digit frequencies vs Benford's log10(1 + 1/d) expectation,
    with the chi-squared goodness-of-fit total — the classic
    fabricated-or-truncated-data screen for ingested numeric feeds (a
    synthetic or clipped feed fails it loudly; naturally-spanning
    measures pass). Non-positive and NULL values are excluded (Benford
    is defined on positive magnitudes).

    leading digit = floor(v / 10^floor(log10 v)) — pure expressions, so
    the corpus collapses to ≤9 rows in ONE map-side-combinable count.
    Output: (digit, n, observed_p round 6, expected_p round 6,
    chi2_term round 6) — Σ chi2_term vs a chi²(8) critical value is the
    caller's accept/reject; terms are emitted per digit so the audit
    shows WHICH digits deviate, not just that something does.
    """
    v = F.col(value)
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("int")
    counts = (
        df.filter(v.isNotNull() & (v > 0))
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("t"))
    exp_p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    obs_p = F.col("n") / F.col("t")
    chi2_term = (
        (F.col("n") - F.col("t") * exp_p)
        * (F.col("n") - F.col("t") * exp_p)
        / (F.col("t") * exp_p)
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(obs_p, 6).alias("observed_p"),
            F.round(exp_p, 6).alias("expected_p"),
            F.round(chi2_term, 6).alias("chi2_term"),
        )
    )


def rfm_segments(
    df: DataFrame,
    cust: str,
    ts_col: str,
    amount: str,
    now_ms: int,
    nseg: int = 5,
) -> DataFrame:
    """RFM customer segmentation — recency (ms since last order),
    frequency (order count), monetary (total spend) per customer, each
    scored 1..nseg against POPULATION quantile cuts (higher = better:
    recent, frequent, big-spending). The classic lifecycle-marketing
    segmentation, and in a data pipeline the per-source "freshness ×
    volume × value" triage.

    The scoring deliberately avoids ntile: a global ntile is a
    single-partition window sort. Instead the equidepth_histogram
    discipline per dimension: ONE array-percentile aggregate over the
    |customers|-row frame yields the nseg−1 interior cuts (rounded 6),
    broadcast back, score = 1 + #cuts strictly below (recency inverts).
    At true 100 TB the cuts swap to approx_percentile, like every
    percentile entry here. Monetary sums round at 3 before the cuts so
    both engines cut on identical values. Output: (cust, recency_ms,
    frequency, monetary r3, r_score, f_score, m_score, rfm).
    """
    if nseg < 2:
        raise ValueError("nseg must be >= 2")
    per = df.groupBy(cust).agg(
        (F.lit(now_ms) - F.max(ts_col)).alias("recency_ms"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum(amount), 3).alias("monetary"),
    )
    cuts = [i / nseg for i in range(1, nseg)]
    plist = ", ".join(str(p) for p in cuts)
    edges = per.agg(
        *[
            F.transform(
                F.expr(f"percentile({c}, array({plist}))"),
                lambda e: F.round(e, 6),
            ).alias(f"__e_{c}")
            for c in ("recency_ms", "frequency", "monetary")
        ]
    )

    def below(col: str) -> Column:
        return F.aggregate(
            F.col(f"__e_{col}"),
            F.lit(0),
            lambda acc, e: acc + F.when(F.col(col) > e, 1).otherwise(0),
        )

    r_score = F.lit(nseg) - below("recency_ms")  # smaller recency = better
    f_score = F.lit(1) + below("frequency")
    m_score = F.lit(1) + below("monetary")
    return per.crossJoin(F.broadcast(edges)).select(
        cust,
        "recency_ms",
        "frequency",
        "monetary",
        r_score.alias("r_score"),
        f_score.alias("f_score"),
        m_score.alias("m_score"),
        (r_score * 100 + f_score * 10 + m_score).alias("rfm"),
    )


def gini_by_group(
    df: DataFrame,
    part: str,
    value: str,
    scale: int = 100,
) -> DataFrame:
    """Per-group Gini coefficient of a non-negative measure — the
    inequality/concentration index (revenue concentration per segment,
    token-share concentration per source) via the rank form
    G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n with ascending ranks (tie-
    invariant: permuting equal values leaves the sum unchanged).

    The rank is the scale problem: a per-group global sort is a
    single-partition window when one group dominates. Same two-phase
    range-partition shape as _two_sample_cum_frame, keyed per group:
    collapse to per-(group, value) counts, range-partition by
    (group, value), LOCAL cumulative counts per (pid, group), then the
    P×|groups| per-partition subtotals prefix-sum on the driver and
    broadcast back — a distinct value v with count c and cum-below cb
    contributes v·(c·cb + c(c+1)/2) to Σ i·x₍ᵢ₎ in EXACT integer
    arithmetic (values scale to ints; sums in decimal(38,0), DuckDB's
    hugeint mirror), and the closing division is the identical double
    expression on both engines. Driver state is P×|groups| rows — group
    cardinality must be bounded (segments/priorities/sources), like
    every per-group driver-offset operator here.

    Output: (part, n, gini r6, mean_value r6); all-NULL groups drop.
    """
    dec = "decimal(38,0)"
    base = df.filter(
        F.col(value).isNotNull() & F.col(part).isNotNull()
    ).select(
        F.col(part),
        F.round(F.col(value) * scale).cast("long").alias("__v"),
    )
    g = base.groupBy(part, "__v").agg(F.count(F.lit(1)).alias("c"))
    # checkpoint BEFORE deriving offsets: repartitionByRange samples its
    # boundaries per job (the partition_offsets contract)
    d = (
        g.repartitionByRange(part, "__v")
        .sortWithinPartitions(part, "__v")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("pid", part)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("lc", F.sum("c").over(w))
    subtotals = d.groupBy("pid", part).agg(F.sum("c").alias("sc")).collect()
    acc: dict = {}
    offsets = []
    for r in sorted(subtotals, key=lambda r: (str(r[part]), r["pid"])):
        offsets.append((r["pid"], r[part], acc.get(r[part], 0)))
        acc[r[part]] = acc.get(r[part], 0) + (r["sc"] or 0)
    if not offsets:
        return df.select(part).limit(0).select(
            F.col(part),
            F.lit(None).cast("long").alias("n"),
            F.lit(None).cast("double").alias("gini"),
            F.lit(None).cast("double").alias("mean_value"),
        )
    part_t = df.schema[part].dataType.simpleString()
    off = df.sparkSession.createDataFrame(
        offsets, f"pid int, {part} {part_t}, off long"
    )
    joined = d.join(F.broadcast(off), ["pid", part])
    cb = (F.col("off") + F.col("lc") - F.col("c")).cast(dec)
    c = F.col("c").cast(dec)
    # doubled rank-sum term keeps everything integral (c·(2cb+c+1) is the
    # 2× of c·cb + c(c+1)/2, so no decimal division anywhere): 2·Σ i·x
    term2 = c * (F.lit(2).cast(dec) * cb + c + F.lit(1).cast(dec)) * F.col(
        "__v"
    ).cast(dec)
    agged = joined.groupBy(part).agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c").cast(dec) * F.col("__v").cast(dec)).alias("__s"),
        F.sum(term2).alias("__t2"),
    )
    s_d = F.col("__s").cast("double")
    return agged.select(
        part,
        "n",
        # try_divide: an all-zero group has Σx = 0 — its Gini is 0/0,
        # undefined → NULL (DuckDB /0 parity), not an ANSI error
        F.round(
            F.try_divide(
                F.col("__t2").cast("double"), F.col("n") * s_d
            )
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
        F.round(s_d / (F.col("n") * F.lit(float(scale))), 6).alias(
            "mean_value"
        ),
    )


def basket_pair_lift(
    df: DataFrame,
    basket: str,
    item: str,
    min_pairs: int = 5,
) -> DataFrame:
    """Market-basket association mining: for every pair of items that
    co-occur in at least `min_pairs` baskets, the classic rule metrics —
    support = P(a,b), confidence = P(b|a), lift = P(a,b)/(P(a)·P(b)) —
    the "frequently bought together" primitive (Agrawal et al. 1993
    support/confidence framing) and, in a data pipeline, the co-occurrence
    screen behind template/boilerplate detection.

    Plan shape: collapse to distinct (basket, item) presence (one
    partial-agg exchange), then the pair generation is a SELF-JOIN
    CO-PARTITIONED ON THE BASKET KEY — fan-out is per-basket size², which
    real baskets bound (TPC-H ~7 items/order), never corpus². The
    min-support cut runs inside the pair aggregate, so only frequent
    pairs survive to the metric joins; item totals are a catalog-sized
    frame joined broadcast. n_a·n_b routes through double (two ~1e10
    margins overflow int64). Output: (item_a, item_b, n_pairs, support,
    confidence, lift — rounds 6), item_a < item_b.
    """
    # the presence frame feeds FOUR consumers (basket count, item counts,
    # both sides of the pair join) — persist it or the distinct scan runs
    # four times (measured 16 s → 7 s at sf0.1)
    with Rounds(df.sparkSession) as r:
        present = r.pin(
            df.select(F.col(basket).alias("__b"), F.col(item).alias("__i"))
            .distinct()
        )
        n_baskets = present.agg(
            F.count_distinct("__b").cast("double").alias("__n")
        )
        item_n = present.groupBy(F.col("__i")).agg(F.count(F.lit(1)).alias("__ni"))
        pairs = (
            present.alias("a")
            .join(
                present.alias("b"),
                (F.col("a.__b") == F.col("b.__b")) & (F.col("a.__i") < F.col("b.__i")),
            )
            .groupBy(
                F.col("a.__i").alias("item_a"), F.col("b.__i").alias("item_b")
            )
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .filter(F.col("n_pairs") >= min_pairs)
        )
        out = (
            pairs.join(
                F.broadcast(item_n.select(F.col("__i").alias("item_a"), F.col("__ni").alias("__na"))),
                "item_a",
            )
            .join(
                F.broadcast(item_n.select(F.col("__i").alias("item_b"), F.col("__ni").alias("__nb"))),
                "item_b",
            )
            .crossJoin(F.broadcast(n_baskets))
            .select(
                "item_a",
                "item_b",
                "n_pairs",
                F.round(F.col("n_pairs") / F.col("__n"), 6).alias("support"),
                F.round(F.col("n_pairs") / F.col("__na"), 6).alias("confidence"),
                F.round(
                    F.col("n_pairs") * F.col("__n")
                    / (F.col("__na").cast("double") * F.col("__nb")),
                    6,
                ).alias("lift"),
            )
        )
        # frequent pairs only survive the min-support cut: the materialized
        # result is far smaller than the pinned presence frame it releases
        return r.finish(out)


def linreg_by_group(
    df: DataFrame, part: str, x: str, y: str
) -> DataFrame:
    """Per-group simple OLS: slope, intercept, and R² of y on x — the
    closed-form regression layer above group_stats' correlation (drift
    lines per segment, price-vs-quantity curves per flag) without MLlib.

    Numerically CENTERED two-pass form: a single tiny aggregate yields
    per-group means, broadcast back, then one map-side-combinable pass
    accumulates Σdx², Σdy², Σdx·dy — the raw-moment one-pass form
    (nΣxy − ΣxΣy) catastrophically cancels when x is large-magnitude
    (epoch-millis timestamps), and engines disagree in the surviving
    digits; centered deviations keep ~15 significant digits so the
    6-decimal rounding is stable cross-engine. Same two-shuffle shape as
    robust_stats, each carrying one row per group. Pairs with NULL in
    either column are excluded from BOTH passes. try_divide: a constant-x
    group has Σdx² = 0 → slope/intercept/r2 NULL, not an ANSI error.

    Output: (part, n, slope r6, intercept r6, r2 r6).
    """
    base = df.filter(
        F.col(x).isNotNull() & F.col(y).isNotNull()
    ).select(part, F.col(x).cast("double").alias("__x"), F.col(y).cast("double").alias("__y"))
    means = base.groupBy(part).agg(
        F.avg("__x").alias("__mx"), F.avg("__y").alias("__my")
    )
    dx = F.col("__x") - F.col("__mx")
    dy = F.col("__y") - F.col("__my")
    agged = (
        base.join(F.broadcast(means), part)
        .groupBy(part)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dx * dx).alias("__sxx"),
            F.sum(dy * dy).alias("__syy"),
            F.sum(dx * dy).alias("__sxy"),
            F.first("__mx").alias("__mx"),
            F.first("__my").alias("__my"),
        )
    )
    slope = F.try_divide(F.col("__sxy"), F.col("__sxx"))
    return agged.select(
        part,
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(F.col("__my") - slope * F.col("__mx"), 6).alias("intercept"),
        F.round(
            F.try_divide(
                F.col("__sxy") * F.col("__sxy"),
                F.col("__sxx") * F.col("__syy"),
            ),
            6,
        ).alias("r2"),
    )


def order_gaps(
    df: DataFrame,
    key: str,
    seq_col: str,
    id_col: str,
) -> DataFrame:
    """Per-key inter-arrival analysis via lead/lag — the window-function
    family member NSDb's dialect lacks entirely (SURVEY.md §2.6): each
    row gets its predecessor's sequence value, the gap to it, and its
    position, turning an order log into a purchase-cadence series
    (churn-risk feature: "time since previous order").

    seq_col must be numeric (callers pass epoch millis, not date types —
    integer subtraction is exact and engine-agnostic, where date columns
    round-trip differently per engine). One hash exchange on the key;
    lag/row_number share the single (seq, id) partition sort. Output:
    (key, id, seq_col, prev_seq, gap, rn); a key's first row has NULL
    prev/gap.
    """
    w = Window.partitionBy(key).orderBy(
        F.col(seq_col).asc(), F.col(id_col).asc()
    )
    prev = F.lag(seq_col).over(w)
    return df.select(
        key,
        id_col,
        seq_col,
        prev.alias("prev_seq"),
        (F.col(seq_col) - prev).alias("gap"),
        F.row_number().over(w).alias("rn"),
    )


def stickiness(
    events: DataFrame,
    bucket_ms: int,
    window_buckets: int = 30,
    user: str = "user_id",
    ts: str = "timestamp",
) -> DataFrame:
    """DAU/MAU stickiness per bucket — the engagement-quality ratio on
    every product dashboard ("what fraction of the month's actives came
    back today"): exactly active_users with a 30-bucket trailing window
    plus the ratio, so it inherits that operator's exact bounded-fan-out
    rolling distinct (no global-sort window, no driver set unions).

    Output: (bucket_start, dau, mau, stickiness rounded 6); a gap bucket
    scores 0.0 (dau = 0 over a live window), never NULL/division error.
    """
    au = active_users(events, bucket_ms, window_buckets, user, ts)
    return au.select(
        "bucket_start",
        "dau",
        F.col("wau").alias("mau"),
        F.round(F.try_divide(F.col("dau"), F.col("wau")), 6).alias(
            "stickiness"
        ),
    )


def _avg_rank_frame(
    one_col: DataFrame, col: str
) -> tuple[DataFrame, int]:
    """Average (tie-adjusted) rank per DISTINCT value of `col`, without a
    global window: the single-sample sibling of _two_sample_cum_frame.
    Collapse to per-value counts, range-partition by value, LOCAL
    cumsums, broadcast the P per-partition subtotals as offsets — only
    P driver rows ever materialize. avg_rank(v) = (# rows <= v) -
    (count(v) - 1) / 2, the midrank. Returns ((v, avg_rank), n_total).
    """
    g = one_col.groupBy(F.col(col).alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # checkpoint BEFORE deriving offsets (partition_offsets contract):
    # repartitionByRange re-samples boundaries per job, so subtotals and
    # cumsums from different evaluations would silently disagree
    d = (
        g.repartitionByRange("v")
        .sortWithinPartitions("v")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("lc", F.sum("c").over(w))
    subtotals = {
        r["pid"]: r["sc"] or 0
        for r in d.groupBy("pid").agg(F.sum("c").alias("sc")).collect()
    }
    offsets, acc = [], 0
    for pid in range(max(subtotals, default=-1) + 1):
        offsets.append((pid, acc))
        acc += subtotals.get(pid, 0)
    off = one_col.sparkSession.createDataFrame(
        offsets or [(0, 0)], "pid int, off long"
    )
    ranked = d.join(F.broadcast(off), "pid").select(
        "v",
        (
            (F.col("lc") + F.col("off")).cast("double")
            - (F.col("c") - F.lit(1)) / F.lit(2.0)
        ).alias("avg_rank"),
    )
    return ranked, acc


def spearman_corr(df: DataFrame, x: str, y: str) -> DataFrame:
    """Exact Spearman rank correlation between two numeric columns,
    distributed and tie-correct: Pearson correlation of the midranks
    (average ranks), the standard tie treatment. Catches any MONOTONE
    association Pearson's linearity assumption misses — the right first
    look at heavy-tailed pipeline metrics (quality score vs doc length,
    price vs quantity) where a few huge values dominate covariance.

    Plan: rows with either side NULL drop (pairwise-complete), then each
    column independently collapses to per-distinct-value midranks via
    _avg_rank_frame (range-partition cumsum + P-row broadcast offsets —
    no global window, no data-sized driver state), ranks join back on
    the value columns, and one aggregate forms the centered sums.
    Midranks always total n(n+1)/2, so the exact mean rank (n+1)/2
    centers both sides — no catastrophic n*Sxy - Sx*Sy cancellation.

    Output one row: (spearman_rho rounded 6, n bigint).
    """
    base = df.filter(F.col(x).isNotNull() & F.col(y).isNotNull()).select(
        F.col(x).alias("vx"), F.col(y).alias("vy")
    )
    rx, n = _avg_rank_frame(base.select(F.col("vx").alias("v")), "v")
    if n == 0:
        raise ValueError("spearman_corr: no rows with both columns non-null")
    ry, _ = _avg_rank_frame(base.select(F.col("vy").alias("v")), "v")
    m = (n + 1) / 2.0
    j = (
        base.join(rx.select(F.col("v").alias("vx"), F.col("avg_rank").alias("rx")), "vx")
        .join(ry.select(F.col("v").alias("vy"), F.col("avg_rank").alias("ry")), "vy")
        .select(
            (F.col("rx") - F.lit(m)).alias("dx"),
            (F.col("ry") - F.lit(m)).alias("dy"),
        )
    )
    return j.groupBy().agg(
        F.round(
            F.sum(F.col("dx") * F.col("dy"))
            / F.sqrt(
                F.sum(F.col("dx") * F.col("dx"))
                * F.sum(F.col("dy") * F.col("dy"))
            ),
            6,
        ).alias("spearman_rho"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


def mutual_information(df: DataFrame, x: str, y: str) -> DataFrame:
    """Mutual information (nats) between two categorical columns, plus
    the sqrt-normalized NMI — the corpus-mixing diagnostic ("how much
    does source determine language?") and the model-free feature-
    association score chi2_independence's p-value can't give you (MI is
    effect size, chi2 is significance; a 100 TB table makes everything
    significant).

    Plan: one groupBy(x, y) collapses the data to the joint contingency
    (map-side combinable, the only data-sized shuffle); marginals
    re-aggregate FROM the collapsed joint frame (never rescan the data);
    one row out. MI = sum p_xy * ln(p_xy / (p_x * p_y)); H via the same
    counts; NMI = MI / sqrt(Hx * Hy), 0 when either entropy is 0
    (degenerate single-category column).

    Output one row: (mi_nats r6, nmi r6, h_x r6, h_y r6, n bigint).
    """
    base = df.filter(F.col(x).isNotNull() & F.col(y).isNotNull()).select(
        F.col(x).alias("cx"), F.col(y).alias("cy")
    )
    jt = base.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("long").alias("nxy")
    )
    nx = jt.groupBy("cx").agg(F.sum("nxy").alias("nx"))
    ny = jt.groupBy("cy").agg(F.sum("nxy").alias("ny"))
    tot = jt.agg(F.sum("nxy").cast("double").alias("nn"))
    cell = (
        jt.join(nx, "cx")
        .join(ny, "cy")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                (F.col("nxy") / F.col("nn"))
                * F.log(
                    F.col("nxy") * F.col("nn") / (F.col("nx") * F.col("ny"))
                )
            ).alias("term"),
            "nxy",
        )
    )
    hx = (
        nx.crossJoin(F.broadcast(tot))
        .agg(F.sum(-(F.col("nx") / F.col("nn")) * F.log(F.col("nx") / F.col("nn"))).alias("h_x"))
    )
    hy = (
        ny.crossJoin(F.broadcast(tot))
        .agg(F.sum(-(F.col("ny") / F.col("nn")) * F.log(F.col("ny") / F.col("nn"))).alias("h_y"))
    )
    agg = cell.agg(
        F.sum("term").alias("mi"),
        F.sum("nxy").cast("long").alias("n"),
    )
    return (
        agg.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            F.round(F.col("mi"), 6).alias("mi_nats"),
            F.when(
                (F.col("h_x") > 0) & (F.col("h_y") > 0),
                F.round(
                    F.col("mi") / F.sqrt(F.col("h_x") * F.col("h_y")), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("nmi"),
            F.round("h_x", 6).alias("h_x"),
            F.round("h_y", 6).alias("h_y"),
            "n",
        )
    )


def theil_sen_by_group(
    df: DataFrame, part: str, x: str, y: str
) -> DataFrame:
    """Theil-Sen robust trend per group: the MEDIAN of all pairwise
    slopes (y_j - y_i)/(x_j - x_i) over points with distinct x — the
    29%-breakdown slope estimator that shrugs off the outlier days an
    OLS fit (linreg_by_group) chases. Sen (1968), Theil (1950).

    Feed it a frame already COLLAPSED to one point per (group, x) — e.g.
    daily totals — so the pair self-join is quadratic in the number of
    points per group (calendar-bounded: ~2.5k days -> ~3M pairs), never
    in raw rows; at 100 TB the collapse is the caller's map-side-
    combinable aggregate and this operator's cost is unchanged. The
    self-join co-partitions on the group key (one exchange, reused by
    the final aggregate); the median is Spark's exact interpolated
    percentile within each group.

    Output: (group, n_points, n_pairs, ts_slope rounded 6).
    """
    pts = df.filter(
        F.col(part).isNotNull() & F.col(x).isNotNull() & F.col(y).isNotNull()
    ).select(F.col(part).alias("g"), F.col(x).alias("px"), F.col(y).alias("py"))
    # The probe side is a tiny post-aggregate frame (groups x calendar
    # days), so AQE coalesces it to ~1 partition — and the quadratic pair
    # expansion plus the partial-percentile build would then run on one
    # core. An explicit round-robin repartition to core count spreads the
    # expansion (the frame stays calendar-bounded at any SF, so the extra
    # exchange is a few thousand rows); the build side is pinned broadcast
    # so each task expands its rows locally with no keyed shuffle.
    sc = df.sparkSession.sparkContext
    spread = pts.repartition(sc.defaultParallelism)
    pairs = (
        spread.alias("a")
        .join(
            F.broadcast(pts.alias("b")),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.px") < F.col("b.px")),
        )
        .select(
            F.col("a.g").alias("g"),
            (
                (F.col("b.py") - F.col("a.py"))
                / (F.col("b.px") - F.col("a.px"))
            ).alias("slope"),
        )
    )
    npts = pts.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    return (
        pairs.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.percentile("slope", F.lit(0.5)), 6).alias("ts_slope"),
        )
        .join(npts, "g")
        .select(
            F.col("g").alias(part), "n_points", "n_pairs", "ts_slope"
        )
    )


def kendall_tau_by_group(
    df: DataFrame, part: str, x: str, y: str
) -> DataFrame:
    """Kendall tau-b rank correlation per group over a frame with ONE
    point per (group, x) — concordant-vs-discordant pair fractions with
    the standard tie-in-y correction. Completes the correlation family:
    Pearson (linreg_by_group) assumes linearity, Spearman
    (spearman_corr) uses rank magnitudes, Kendall counts pair
    inversions — the most robust of the three and the one with a direct
    probabilistic reading (P[concordant] − P[discordant]).

    Same contract and plan as theil_sen_by_group: the caller collapses
    to calendar-bounded points first, the pair self-join co-partitions
    on the group key, and every count is an exact integer, so tau-b is
    bit-deterministic. x values are unique per group by contract
    (enforced: duplicate x raises), so x-ties need no correction term.

    Output: (group, n_points, concordant, discordant, tau_b rounded 6).
    """
    pts = df.filter(
        F.col(part).isNotNull() & F.col(x).isNotNull() & F.col(y).isNotNull()
    ).select(F.col(part).alias("g"), F.col(x).alias("px"), F.col(y).alias("py"))
    # one-point-per-x contract: a duplicate x silently skews the pair
    # census, so fail loudly inside the same scan — the assert folds into
    # the KEPT n_points column (coalesce(NULL-on-pass, 0) adds 0), so
    # column pruning can never drop it (dedup.py discipline)
    dup_guard = F.coalesce(
        F.assert_true(
            F.count(F.lit(1)) == F.count_distinct(F.col("px")),
            f"kendall_tau_by_group: duplicate {x} within a {part} group",
        ).cast("long"),
        F.lit(0),
    )
    npts = pts.groupBy("g").agg(
        (F.count(F.lit(1)) + dup_guard).cast("long").alias("n_points"),
        (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2).alias("n0"),
    )
    # same probe-side spread + pinned broadcast as theil_sen_by_group
    # (AQE coalesces the tiny aggregate output to ~1 partition, which
    # would serialize the quadratic pair census onto one core)
    spread = pts.repartition(df.sparkSession.sparkContext.defaultParallelism)
    pair = (
        spread.alias("a")
        .join(
            F.broadcast(pts.alias("b")),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.px") < F.col("b.px")),
        )
        .groupBy(F.col("a.g").alias("g"))
        .agg(
            F.sum(
                F.when(F.col("b.py") > F.col("a.py"), 1).otherwise(0)
            ).cast("long").alias("concordant"),
            F.sum(
                F.when(F.col("b.py") < F.col("a.py"), 1).otherwise(0)
            ).cast("long").alias("discordant"),
            F.sum(
                F.when(F.col("b.py") == F.col("a.py"), 1).otherwise(0)
            ).cast("long").alias("ties_y"),
        )
    )
    # npts DRIVES (left side): a group whose pairs are all filtered out
    # (every point at one x) would otherwise let AQE propagate the empty
    # pair relation and skip the npts aggregate — and with it the
    # duplicate-x assert. Left-joining from npts keeps the guard live.
    denom = F.col("n0") * (F.col("n0") - F.col("ties_y"))
    return npts.join(pair, "g", "left").select(
        F.col("g").alias(part),
        "n_points",
        F.coalesce("concordant", F.lit(0)).alias("concordant"),
        F.coalesce("discordant", F.lit(0)).alias("discordant"),
        F.when(
            denom > 0,
            F.round(
                (F.col("concordant") - F.col("discordant")) / F.sqrt(denom),
                6,
            ),
        ).alias("tau_b"),
    )


def midrank_pct(df: DataFrame, id_col: str, value: str) -> DataFrame:
    """Percentile rank of every row by `value` (midrank/n, tie-fair, in
    (0, 1]) — "which spend/activity percentile is this customer in" at
    full population scale. A naive percent_rank() is a global-sort
    single-partition window, dead at 100 TB; this reuses the
    _avg_rank_frame machinery: collapse to per-distinct-value counts,
    range-partition cumsums, P-row broadcast offsets, then join the
    |distinct values|-sized rank table back on the value column.

    Ties matter: feed it EXACT-arithmetic values (counts, integer
    cents). Float sums that differ in final ulps across engines/runs
    silently reshape tie groups and thus every midrank.

    Output: (id_col, value, pct_rank rounded 6).
    """
    base = df.filter(
        F.col(id_col).isNotNull() & F.col(value).isNotNull()
    ).select(id_col, value)
    ranks, n = _avg_rank_frame(base.select(F.col(value).alias("v")), "v")
    if n == 0:
        raise ValueError("midrank_pct: no rows with non-null id and value")
    return base.join(
        ranks.select(F.col("v").alias(value), "avg_rank"), value
    ).select(
        id_col,
        value,
        F.round(F.col("avg_rank") / F.lit(float(n)), 6).alias("pct_rank"),
    )


def partial_corr(df: DataFrame, x: str, y: str, z: str) -> DataFrame:
    """First-order partial correlation r_xy·z — the x↔y association with
    the confounder z linearly removed: (r_xy − r_xz·r_yz) /
    sqrt((1−r_xz²)(1−r_yz²)). The "is quantity really driving price, or
    is discount driving both" question; stats_corr gives the raw r's,
    this is the causal-hygiene follow-up.

    Two-pass centered sums, the stats_linreg discipline: raw-moment
    n·Σxy − ΣxΣy cancels catastrophically on wide-magnitude columns, so
    pass 1 is one tiny aggregate for the three means (broadcast back),
    pass 2 one map-side-combinable aggregate for the six centered
    co-moments. Rows with ANY of the three NULL drop (listwise-complete,
    the standard partial-correlation convention).

    Output one row: (r_xy, r_xz, r_yz, partial_r, all rounded 6; n).
    Degenerate inputs (a constant column, |r|=1 collinearity) yield NULL
    partial_r rather than a division error.
    """
    base = df.filter(
        F.col(x).isNotNull() & F.col(y).isNotNull() & F.col(z).isNotNull()
    ).select(F.col(x).alias("vx"), F.col(y).alias("vy"), F.col(z).alias("vz"))
    means = base.agg(
        F.avg("vx").alias("mx"), F.avg("vy").alias("my"),
        F.avg("vz").alias("mz"),
    )
    dx, dy, dz = (
        F.col("vx") - F.col("mx"),
        F.col("vy") - F.col("my"),
        F.col("vz") - F.col("mz"),
    )
    g = base.crossJoin(F.broadcast(means)).agg(
        F.sum(dx * dy).alias("sxy"),
        F.sum(dx * dz).alias("sxz"),
        F.sum(dy * dz).alias("syz"),
        F.sum(dx * dx).alias("sxx"),
        F.sum(dy * dy).alias("syy"),
        F.sum(dz * dz).alias("szz"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    def r(sab, saa, sbb):
        return F.when(
            (F.col(saa) > 0) & (F.col(sbb) > 0),
            F.col(sab) / F.sqrt(F.col(saa) * F.col(sbb)),
        )
    rxy, rxz, ryz = r("sxy", "sxx", "syy"), r("sxz", "sxx", "szz"), r("syz", "syy", "szz")
    denom = (1 - rxz * rxz) * (1 - ryz * ryz)
    return g.select(
        F.round(rxy, 6).alias("r_xy"),
        F.round(rxz, 6).alias("r_xz"),
        F.round(ryz, 6).alias("r_yz"),
        F.when(
            denom > 0, F.round((rxy - rxz * ryz) / F.sqrt(denom), 6)
        ).alias("partial_r"),
        "n",
    )


def lorenz_deciles(
    df: DataFrame, value: str, buckets: int = 10
) -> DataFrame:
    """Lorenz concentration curve at decile grain: rank every row by
    `value` (midranks, tie-fair), cut the population into `buckets`
    equal-rank slices, and report each slice's share of the total — the
    "bottom 50 % of orders carry 18 % of revenue" readout behind
    gini_by_group's single coefficient (the curve shows WHERE the
    concentration lives; Gini only says how much).

    Scale shape: the rank table comes from _avg_rank_frame (range-
    partition cumsums + P-row broadcast offsets — no global-sort
    window); the per-bucket rollup is map-side-combinable; the closing
    cumulative runs on `buckets` rows, where a single partition is
    free. Rank on STORED values (not cross-engine float sums) so tie
    groups are bit-identical everywhere.

    Output: (decile 1..buckets, n_rows, value_share r6, cum_share r6).
    """
    base = df.filter(F.col(value).isNotNull()).select(F.col(value).alias("v"))
    ranks, n = _avg_rank_frame(base, "v")
    if n == 0:
        raise ValueError("lorenz_deciles: no non-null values")
    dec = F.least(
        F.lit(buckets).cast("long"),
        F.ceil(F.col("avg_rank") * buckets / F.lit(n)),
    ).cast("int")
    g = (
        base.join(ranks, "v")
        .groupBy(dec.alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").alias("__sv"),
        )
    )
    tot = g.agg(F.sum("__sv").alias("__tot"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_rows",
            F.round(F.col("__sv") / F.col("__tot"), 6).alias("value_share"),
            F.round(
                F.sum("__sv").over(w) / F.col("__tot"), 6
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


def cohens_d(
    df: DataFrame, value: str, group: str, a: str, b: str
) -> DataFrame:
    """Cohen's d standardized mean difference between two groups —
    the EFFECT SIZE welch_ttest's p-value can't give at scale (every
    difference is "significant" at 100 TB rows; d stays comparable
    across n): (mean_a − mean_b) / pooled_sd with the classic
    (n−1)-weighted pooled variance.

    One map-side-combinable aggregate over both samples (sum/sumsq
    partials, the welch_ttest plan) — no second pass, no join. Output
    one row: (mean_a, mean_b, pooled_sd, cohens_d, all r6; n_a, n_b).
    Degenerate inputs (a group with < 2 rows, zero pooled variance)
    yield NULL d, never a division error.
    """
    s = df.filter(
        F.col(group).isin(a, b) & F.col(value).isNotNull()
    ).select(
        F.col(value).alias("v"),
        F.when(F.col(group) == a, F.lit(1)).otherwise(F.lit(0)).alias("ia"),
    )
    ia = F.col("ia") == 1

    def side(flag, expr):
        return F.sum(F.when(flag, expr).otherwise(F.lit(0.0)))

    g = s.agg(
        F.sum("ia").cast("long").alias("na"),
        (F.count(F.lit(1)) - F.sum("ia")).cast("long").alias("nb"),
        side(ia, F.col("v")).alias("sa"),
        side(~ia, F.col("v")).alias("sb"),
        side(ia, F.col("v") * F.col("v")).alias("qa"),
        side(~ia, F.col("v") * F.col("v")).alias("qb"),
    )
    ma, mb = F.col("sa") / F.col("na"), F.col("sb") / F.col("nb")
    # centered sums via the one-pass identity; means here are WITHIN one
    # engine so no cross-engine tie hazard, and the oracle mirrors the
    # exact expression shape
    ssa = F.col("qa") - F.col("sa") * ma
    ssb = F.col("qb") - F.col("sb") * mb
    pooled = F.sqrt(
        (ssa + ssb) / (F.col("na") + F.col("nb") - F.lit(2))
    )
    return g.select(
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(pooled, 6).alias("pooled_sd"),
        F.when(
            (F.col("na") >= 2) & (F.col("nb") >= 2) & (pooled > 0),
            F.round((ma - mb) / pooled, 6),
        ).alias("cohens_d"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
    )


#: two-sided 95% normal quantile, full double precision — the literal is
#: embedded in the SQL oracles too so both engines square the same bits
WILSON_Z = 1.959963984540054


def wilson_ci_by_group(
    df: DataFrame, part: str, success: Column | str
) -> DataFrame:
    """Per-group binomial proportion with the Wilson 95% score interval —
    the conversion-rate/defect-rate dashboard row done right (the naive
    Wald interval collapses to zero width at p̂ ∈ {0, 1} and escapes
    [0, 1]; Wilson stays honest at any n). `success` is a boolean
    column/expression counted within each group.

    ONE map-side-combinable aggregate (n, k per group), closed-form
    math on the group-count frame after. Output: (part, n, k, p_hat r6,
    ci_low r6, ci_high r6).
    """
    s = F.col(success) if isinstance(success, str) else success
    g = df.filter(F.col(part).isNotNull() & s.isNotNull()).groupBy(part).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(s.cast("int")).cast("long").alias("k"),
    )
    z2 = WILSON_Z * WILSON_Z
    n, k = F.col("n"), F.col("k")
    p = k / n
    denom = 1 + z2 / n
    center = (p + z2 / (2 * n)) / denom
    half = (
        WILSON_Z
        * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
        / denom
    )
    return g.select(
        part,
        "n",
        "k",
        F.round(p, 6).alias("p_hat"),
        F.round(center - half, 6).alias("ci_low"),
        F.round(center + half, 6).alias("ci_high"),
    )


def brown_forsythe(df: DataFrame, value: str, group: str) -> DataFrame:
    """Brown-Forsythe test for equality of VARIANCES across the groups
    of `group` (Brown & Forsythe 1974) — the robust Levene variant:
    transform every observation to its absolute deviation from the
    GROUP MEDIAN, z = |x − med_g|, then one-way ANOVA on z. The
    spread-drift screen welch_anova (means) and ks/cvm (one pair at a
    time) don't cover: "did variance change across event types?"
    W = ((N−k)/(k−1)) · Σ n_g(z̄_g − z̄)² / Σ_g Σ_i (z_gi − z̄_g)².

    Plan: exact per-group medians via the sort-based percentile
    aggregate (one shuffle on `group`; with few distinct groups this
    is the exact-median cost — the 100 TB path swaps in
    approx_percentile at the caller's accuracy budget, same shape),
    the k-row median frame broadcasts back onto the scan (no second
    data shuffle), and z collapses map-side to k rows of
    (n, Σz, Σz²) — every downstream term derives from that frame.
    Returns one row: (bf_stat r6, df1 bigint, df2 bigint, k, n_total).
    """
    d = df.filter(
        F.col(value).isNotNull() & F.col(group).isNotNull()
    ).select(F.col(group).alias("g"), F.col(value).cast("double").alias("x"))
    med = d.groupBy("g").agg(F.expr("percentile(x, 0.5)").alias("med"))
    z = d.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("x") - F.col("med")).alias("z")
    )
    s = (
        z.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("z").alias("sz"),
            F.sum(F.col("z") * F.col("z")).alias("szz"),
        )
        .filter(F.col("n") >= 2)
        .localCheckpoint(eager=True)  # k rows; feeds totals AND the stat
    )
    tot = s.groupBy().agg(
        F.sum("n").alias("tot_n"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("sz").alias("tot_sz"),
    )
    zbar_g = F.col("sz") / F.col("n")
    zbar = F.col("tot_sz") / F.col("tot_n")
    num = F.sum(F.col("n") * (zbar_g - zbar) * (zbar_g - zbar))
    den = F.sum(F.col("szz") - F.col("sz") * F.col("sz") / F.col("n"))
    return (
        s.crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            F.round(
                (F.max("tot_n") - F.max("n_groups"))
                / (F.max("n_groups") - F.lit(1.0))
                * F.try_divide(num, den),
                6,
            ).alias("bf_stat"),
            (F.max("n_groups") - 1).cast("long").alias("df1"),
            (F.max("tot_n") - F.max("n_groups")).cast("long").alias("df2"),
            F.max("n_groups").cast("long").alias("k"),
            F.max("tot_n").cast("long").alias("n_total"),
        )
    )


def markov_transition_probs(
    events: DataFrame,
    alpha: float = 1.0,
    user: str = "user_id",
    ts: str = "timestamp",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Laplace-smoothed first-order Markov transition matrix over the
    same per-user steps as transition_counts: P(next|prev) =
    (c + α) / (tot_prev + α·V) over the FULL V×V type grid, so unseen
    transitions get honest nonzero mass and every row sums to exactly 1
    — what journey simulation / next-event prediction consumes, where
    the raw count matrix's zeros break the chain.

    Cost beyond transition_counts is nil at any scale: the grid is the
    V² type cross (broadcast literal-sized), counts and row totals are
    V²/V-row frames. Types that never appear as a predecessor get the
    uniform row (tot = 0 → p = 1/V).

    Output: (prev_type, next_type, n bigint, p r6), V² rows.
    """
    counts = transition_counts(
        events, user=user, ts=ts, type_col=type_col, id_col=id_col
    )
    types = events.select(
        F.col(type_col).alias("t")
    ).filter(F.col("t").isNotNull()).distinct()
    grid = (
        types.select(F.col("t").alias("prev_type"))
        .crossJoin(F.broadcast(types.select(F.col("t").alias("next_type"))))
    )
    v = types.count()  # |types| — a handful; drives the smoothing mass
    tot = counts.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return (
        grid.join(F.broadcast(counts), ["prev_type", "next_type"], "left")
        .join(F.broadcast(tot), "prev_type", "left")
        .select(
            "prev_type",
            "next_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.round(
                (F.coalesce(F.col("n"), F.lit(0)) + F.lit(alpha))
                / (F.coalesce(F.col("tot"), F.lit(0)) + F.lit(alpha * v)),
                6,
            ).alias("p"),
        )
    )


def qq_table(
    df: DataFrame,
    value: str,
    group: str,
    a: str,
    b: str,
    n_q: int = 20,
) -> DataFrame:
    """Quantile-quantile table between the `value` distributions of
    group `a` and group `b`: exact quantiles at i/n_q for
    i = 1..n_q−1, side by side with their gap — the diagnostic VIEW
    behind the two-sample tests (ks/cvm/wasserstein say "how much
    drift"; the Q-Q table says WHERE in the distribution it lives —
    tails vs body, one-sided vs symmetric).

    One scan: a single groupBy computes each group's full quantile
    vector with the exact sort-based percentile aggregate (the 100 TB
    path swaps approx_percentile in at the caller's accuracy budget,
    identical shape), then the two (n_q−1)-length vectors explode and
    pivot into rows. Everything after the scan is literal-sized.

    Output: (q r6, q_a r6, q_b r6, gap r6), n_q−1 rows.
    """
    qs = [i / n_q for i in range(1, n_q)]
    arr = "array(" + ", ".join(repr(q) for q in qs) + ")"
    g = (
        df.filter(
            F.col(group).isin(a, b) & F.col(value).isNotNull()
        )
        .groupBy(group)
        .agg(F.expr(f"percentile({value}, {arr})").alias("qv"))
    )
    ex = g.select(group, F.posexplode("qv").alias("i", "val"))
    qlit = F.element_at(
        F.array([F.lit(q) for q in qs]), F.col("i").cast("int") + 1
    )
    return (
        ex.groupBy("i")
        .agg(
            F.max(F.when(F.col(group) == a, F.col("val"))).alias("__qa"),
            F.max(F.when(F.col(group) == b, F.col("val"))).alias("__qb"),
        )
        .select(
            F.round(qlit, 6).alias("q"),
            F.round(F.col("__qa"), 6).alias("q_a"),
            F.round(F.col("__qb"), 6).alias("q_b"),
            F.round(F.col("__qb") - F.col("__qa"), 6).alias("gap"),
        )
    )


def kaplan_meier(df: DataFrame, subject: str, ts: str) -> DataFrame:
    """Kaplan-Meier survival curve over inter-event gaps with
    right-censoring at the observation horizon: each subject's
    consecutive-event gaps (in whole days) are observed events; the
    tail from its last event to the corpus max date is a CENSORED
    duration (Kaplan & Meier 1958). S(t) = Π_{t_i ≤ t} (1 − d_i/n_i)
    with d_i = events at t_i and n_i = subjects still at risk — the
    honest "time to next order" curve a naive gap histogram gets wrong
    by silently dropping every not-yet-repeated customer.

    Distributed shape: gaps come from one lag window per subject (gap
    multisets are invariant to tie order, so no tie-break column is
    needed); then the SAME _two_sample_cum_frame scan as ks/mwu with
    groups (event, censored) yields per-distinct-duration counts with
    global cumulatives — at-risk = N − cum_before falls out directly.
    The survival product runs as exp of a running sum of
    log(1 − d/n), accumulated with a second application of the
    partition_offsets discipline (local cumsums + P-row driver
    offsets); no global window, no data-sized driver state. The only
    ln(0) case is a final all-events row, guarded to survival = 0 on
    both engines.

    Output: (t bigint, n_risk bigint, n_events bigint, survival r6),
    one row per distinct event duration.
    """
    d0 = df.select(
        F.col(subject).alias("s"), F.to_date(F.col(ts)).alias("d")
    ).filter(F.col("s").isNotNull() & F.col("d").isNotNull())
    mx = d0.agg(F.max("d")).first()[0]
    w = Window.partitionBy("s").orderBy("d")
    nd = F.lead("d").over(w)
    dur = d0.select(
        F.when(nd.isNotNull(), F.datediff(nd, F.col("d")))
        .otherwise(F.datediff(F.lit(mx), F.col("d")))
        .cast("long")
        .alias("t"),
        F.when(nd.isNotNull(), F.lit("event"))
        .otherwise(F.lit("censored"))
        .alias("kind"),
    )
    joined, ne, nc = _two_sample_cum_frame(
        dur, "t", "kind", "event", "censored", "kaplan_meier"
    )
    n_tot = ne + nc
    cum_at = (
        F.col("la") + F.col("off_a") + F.col("lb") + F.col("off_b")
    )
    at_risk = F.lit(n_tot) - (cum_at - F.col("ca") - F.col("cb"))
    term = F.when(
        F.col("ca") < at_risk,
        F.log(F.lit(1.0) - F.col("ca") / at_risk),
    ).otherwise(F.lit(0.0))
    base = joined.withColumn("at_risk", at_risk).withColumn("term", term)
    wloc = Window.partitionBy("pid").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    base = base.withColumn("lt", F.sum("term").over(wloc))
    subt = {
        r["pid"]: r["st"]
        for r in base.groupBy("pid").agg(F.sum("term").alias("st")).collect()
    }
    offs, acc = [], 0.0
    for pid in range(max(subt, default=-1) + 1):
        offs.append((pid, acc))
        acc += subt.get(pid) or 0.0
    odf = df.sparkSession.createDataFrame(
        offs or [(0, 0.0)], "pid int, term_off double"
    )
    return (
        base.join(F.broadcast(odf), "pid")
        .filter(F.col("ca") > 0)
        .select(
            F.col("v").cast("long").alias("t"),
            F.col("at_risk").cast("long").alias("n_risk"),
            F.col("ca").cast("long").alias("n_events"),
            F.round(
                F.when(F.col("ca") == F.col("at_risk"), F.lit(0.0)).otherwise(
                    F.exp(F.col("lt") + F.col("term_off"))
                ),
                6,
            ).alias("survival"),
        )
    )


def runs_test(df: DataFrame, value: str, order: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of a SEQUENCE: classify
    each observation as above/below the series median (exact-median
    values drop, the standard convention), count runs of consecutive
    same-sign observations in `order` order, and standardize against
    the null that signs are exchangeable:
    μ_R = 2·n₁n₂/(n₁+n₂) + 1,
    σ²_R = 2n₁n₂(2n₁n₂ − n₁ − n₂) / ((n₁+n₂)²(n₁+n₂−1)).
    A z far below 0 = trending/sticky (fewer, longer runs than
    chance); far above 0 = oscillating. The sequence-order complement
    of ljung_box's magnitude view.

    CONTRACT: `df` must already be a per-`order`-key aggregate (one
    row per order value — a daily/hourly rollup), so the frame is
    calendar-bounded and the single ordered window sorts thousands of
    rows, not the corpus — the same bounded-frame discipline as the
    theil_sen/kendall daily inputs. Point it at raw events and the
    global sort IS the bottleneck; roll up first.

    Output: one row (n_pos, n_neg, n_runs bigint, z_stat r6).
    """
    d = df.filter(
        F.col(value).isNotNull() & F.col(order).isNotNull()
    ).select(F.col(order).alias("o"), F.col(value).cast("double").alias("x"))
    med = d.agg(F.expr("percentile(x, 0.5)")).first()[0]
    s = d.filter(F.col("x") != F.lit(med)).withColumn(
        "sgn", F.when(F.col("x") > F.lit(med), F.lit(1)).otherwise(F.lit(-1))
    )
    w = Window.orderBy("o")
    runs = s.withColumn(
        "brk",
        F.when(
            F.lag("sgn").over(w).isNull()
            | (F.lag("sgn").over(w) != F.col("sgn")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    agg = runs.groupBy().agg(
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_neg"),
        F.sum("brk").cast("long").alias("n_runs"),
    )
    n1, n2, r = F.col("n_pos"), F.col("n_neg"), F.col("n_runs")
    nn = n1 + n2
    mu = 2.0 * n1 * n2 / nn + 1
    var = (
        (2.0 * n1 * n2) * (2.0 * n1 * n2 - n1 - n2)
        / (nn * nn * (nn - 1))
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "n_runs",
        F.round(F.try_divide(r - mu, F.sqrt(var)), 6).alias("z_stat"),
    )


def anderson_darling_2s(
    df: DataFrame, value: str, group: str, a: str, b: str
) -> DataFrame:
    """Two-sample Anderson-Darling statistic, tie-adjusted midrank form
    (Scholz & Stephens 1987, "K-sample Anderson-Darling tests", eq. 7
    with k = 2): over the L distinct pooled values with multiplicities
    l_j, midrank pooled cumulative B_j and per-sample midrank
    cumulatives M_ij,
    A² = (N−1)/N · Σ_i (1/n_i) Σ_j (l_j/N)(N·M_ij − n_i·B_j)² /
         (B_j(N−B_j) − N·l_j/4).
    The tail-sensitive member of the two-sample family: the 1/(B(N−B))
    weighting up-weights CDF gaps near the extremes, catching
    tail-only drift that KS (max), CvM (uniform weight), and W1
    (unit-weighted) all understate.

    Same single _two_sample_cum_frame scan as its siblings — midranks
    fall out of each row's own cumulative and counts (M = cum − c/2,
    B = cum_pooled − l/2), no boundary state. The degenerate
    denominator B(N−B) − N·l/4 ≤ 0 happens only when one distinct
    value carries the whole pooled sample; such terms are skipped on
    both engines (the statistic is undefined there anyway).

    Returns one row: (ad_stat r6, n_a, n_b bigint).
    """
    joined, na, nb = _two_sample_cum_frame(
        df, value, group, a, b, "anderson_darling_2s"
    )
    n_tot = float(na + nb)
    ell = F.col("ca") + F.col("cb")
    cum_a = F.col("la") + F.col("off_a")
    cum_b = F.col("lb") + F.col("off_b")
    ma = cum_a - F.col("ca") / 2.0
    mb = cum_b - F.col("cb") / 2.0
    bj = (cum_a + cum_b) - ell / 2.0
    denom = bj * (F.lit(n_tot) - bj) - F.lit(n_tot) * ell / 4.0
    da = F.lit(n_tot) * ma - F.lit(float(na)) * bj
    db = F.lit(n_tot) * mb - F.lit(float(nb)) * bj
    term = (
        (ell / F.lit(n_tot))
        * (da * da / F.lit(float(na)) + db * db / F.lit(float(nb)))
        / denom
    )
    return (
        joined.filter(denom > 0)
        .groupBy()
        .agg(
            F.round(
                F.lit((n_tot - 1.0) / n_tot) * F.sum(term), 6
            ).alias("ad_stat"),
            F.max(F.lit(na)).cast("long").alias("n_a"),
            F.max(F.lit(nb)).cast("long").alias("n_b"),
        )
    )


def deming_regression(
    df: DataFrame, part: str, x: str, y: str
) -> DataFrame:
    """Per-group orthogonal (Deming, δ = 1) regression — total least
    squares: minimizes PERPENDICULAR distance to the line instead of
    vertical, the right fit when BOTH variables carry error (sensor vs
    sensor, price vs price), where OLS (linreg_by_group) is biased
    toward zero slope by the x-noise. Closed form from centered second
    moments: slope = (s_yy − s_xx + √((s_yy − s_xx)² + 4·s_xy²)) /
    (2·s_xy), intercept = ȳ − slope·x̄ (the major axis of the
    covariance ellipse).

    ONE map-side-combinable moment aggregate (n, Σx, Σy, Σx², Σy²,
    Σxy) per group — identical scan cost to linreg_by_group — and
    closed-form arithmetic on the k-row frame. s_xy = 0 (no linear
    association, or a vertical/horizontal ellipse) leaves the slope
    undefined → NULL via try_divide, never a divide-by-zero.

    Output: (part, n bigint, slope r6, intercept r6).
    """
    xd = F.col(x).cast("double")
    yd = F.col(y).cast("double")
    g = (
        df.filter(
            F.col(x).isNotNull()
            & F.col(y).isNotNull()
            & F.col(part).isNotNull()
        )
        .groupBy(part)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(xd).alias("sx"),
            F.sum(yd).alias("sy"),
            F.sum(xd * xd).alias("sxx_r"),
            F.sum(yd * yd).alias("syy_r"),
            F.sum(xd * yd).alias("sxy_r"),
        )
        .filter(F.col("n") >= 2)
    )
    sxx = F.col("sxx_r") - F.col("sx") * F.col("sx") / F.col("n")
    syy = F.col("syy_r") - F.col("sy") * F.col("sy") / F.col("n")
    sxy = F.col("sxy_r") - F.col("sx") * F.col("sy") / F.col("n")
    d = syy - sxx
    slope = F.try_divide(d + F.sqrt(d * d + 4.0 * sxy * sxy), 2.0 * sxy)
    return g.select(
        part,
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(
            F.col("sy") / F.col("n") - slope * F.col("sx") / F.col("n"), 6
        ).alias("intercept"),
    )


def json_field_stats(
    events: DataFrame,
    json_col: str = "props",
    path: str = "$.k",
    group: str = "event_type",
) -> DataFrame:
    """Typed extraction from a semi-structured JSON attribute column +
    per-group numeric profile — the "props bag" pattern every event
    pipeline hits: attributes too sparse/variable to be real columns
    ride as JSON strings, and analysis needs one of them back as a
    number WITHOUT a Python UDF. `get_json_object` is a JVM-side
    Catalyst expression (whole-stage codegen, SIMD-friendly string
    scan), so this runs at full scan speed; rows where the path is
    missing or non-numeric cast to NULL and drop.

    ONE map-side-combinable aggregate. At 100 TB the win is columnar:
    only (json_col, group) are read — check ReadSchema — and a
    frequently-queried path should graduate to a materialized column
    at ingest, which this operator's output justifies.

    Output: (group, n bigint, avg_val r6, min_val bigint, max_val bigint).
    """
    val = F.get_json_object(F.col(json_col), path).cast("long")
    return (
        events.filter(F.col(group).isNotNull() & val.isNotNull())
        .withColumn("__v", val)
        .groupBy(group)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("__v"), 6).alias("avg_val"),
            F.min("__v").cast("long").alias("min_val"),
            F.max("__v").cast("long").alias("max_val"),
        )
    )


def mood_median_test(df: DataFrame, value: str, group: str) -> DataFrame:
    """Mood's median test across ALL groups of `group`: classify every
    observation as above/below the POOLED median (exact-median values
    drop, the standard convention), then chi² over the resulting 2×k
    contingency table. The crudest — and most outlier-immune — of the
    k-sample location tests: it only sees which side of the median a
    value falls on, so a group of wild outliers can't dominate the way
    it can in welch_anova, at the cost of power when distributions are
    clean (Mood 1950; the k-sample sibling of mannwhitney_u's
    two-sample rank view).

    One exact pooled median (sort-based percentile; swap in
    approx_percentile at scale, same shape), then one
    map-side-combinable (above, below) count per group and closed-form
    chi² on the k-row frame with totals broadcast back.

    Returns one row: (chi2 r6, df1 bigint, k bigint, n_total bigint).
    """
    d = df.filter(
        F.col(value).isNotNull() & F.col(group).isNotNull()
    ).select(F.col(group).alias("g"), F.col(value).cast("double").alias("x"))
    med = d.agg(F.expr("percentile(x, 0.5)")).first()[0]
    s = d.filter(F.col("x") != F.lit(med))
    g = s.groupBy("g").agg(
        F.sum(F.when(F.col("x") > F.lit(med), 1).otherwise(0))
        .cast("long")
        .alias("ab"),
        F.sum(F.when(F.col("x") < F.lit(med), 1).otherwise(0))
        .cast("long")
        .alias("bl"),
    )
    tot = g.groupBy().agg(
        F.sum("ab").alias("ta"),
        F.sum("bl").alias("tb"),
        F.count(F.lit(1)).alias("nk"),
    )
    n_g = F.col("ab") + F.col("bl")
    n_all = F.col("ta") + F.col("tb")
    ea = n_g * F.col("ta") / n_all
    eb = n_g * F.col("tb") / n_all
    cell = (F.col("ab") - ea) * (F.col("ab") - ea) / ea + (
        F.col("bl") - eb
    ) * (F.col("bl") - eb) / eb
    return (
        g.crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            F.round(F.sum(cell), 6).alias("chi2"),
            (F.max("nk") - 1).cast("long").alias("df1"),
            F.max("nk").cast("long").alias("k"),
            F.max(n_all).cast("long").alias("n_total"),
        )
    )


def kruskal_wallis(df: DataFrame, value: str, group: str) -> DataFrame:
    """Kruskal-Wallis H test across ALL groups of `group` — the
    k-sample extension of mannwhitney_u (rank-based location test, no
    normality assumption), with the standard tie correction:
    H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1), divided by
    C = 1 − Σ_v (t_v³ − t_v)/(N³ − N). The screen to run before k·(k−1)/2
    pairwise MWU comparisons.

    Rank machinery: the corpus collapses once to the (group, value)
    grid; midranks per distinct value come from _avg_rank_frame's
    range-partition + P-offset scan (no global window), and per-group
    rank sums are a co-partitioned grid⋈ranks join on the value key.
    Tie masses t_v³ accumulate in decimal(38,0) (exact past int64,
    mirroring DuckDB's hugeint sums) before the final double division.

    Returns one row: (h_stat r6 [tie-corrected], df1, k, n_total
    bigint). All-tied input has C = 0 → NULL (undefined), not an
    error.
    """
    d = df.filter(
        F.col(value).isNotNull() & F.col(group).isNotNull()
    ).select(F.col(group).alias("g"), F.col(value).alias("v"))
    cg = d.groupBy("g", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ranks, n_tot = _avg_rank_frame(d.select("v"), "v")
    per_g = (
        cg.join(ranks, "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(F.col("c") * F.col("avg_rank")).alias("rs"),
        )
    )
    ties = d.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cv"))
    tie_sum = ties.select(
        F.sum(
            F.col("cv").cast("decimal(38,0)")
            * F.col("cv").cast("decimal(38,0)")
            * F.col("cv").cast("decimal(38,0)")
            - F.col("cv").cast("decimal(38,0)")
        )
        .cast("double")
        .alias("ts")
    )
    n = float(n_tot)
    h_raw = (
        F.lit(12.0 / (n * (n + 1.0)))
        * F.sum(F.col("rs") * F.col("rs") / F.col("n_g"))
        - F.lit(3.0 * (n + 1.0))
    )
    corr = F.lit(1.0) - F.max("ts") / F.lit(n * n * n - n)
    return (
        per_g.crossJoin(F.broadcast(tie_sum))
        .groupBy()
        .agg(
            F.round(F.try_divide(h_raw, corr), 6).alias("h_stat"),
            (F.count(F.lit(1)) - 1).cast("long").alias("df1"),
            F.count(F.lit(1)).cast("long").alias("k"),
            F.lit(n_tot).cast("long").alias("n_total"),
        )
    )


def hill_tail_index(
    df: DataFrame, value: str, k: int = 200
) -> DataFrame:
    """Hill estimator of the power-law tail index over the k largest
    values of `value`: α̂ = 1 / (mean_{i≤k} ln x_(i) − ln x_(k+1))
    (Hill 1975) — the MLE complement to zipf_slope's log-log OLS, and
    the number that decides skew strategy: α < 2 means the hot keys'
    share grows with corpus size (salt/df-cap MANDATORY), α > 2
    means the tail thins and plain hash partitioning holds.

    The corpus collapses to whatever bounded frame the caller passes
    (per-key counts here); TakeOrderedAndProject pulls the k+1 largest
    — the only rows the estimator touches — and the closing math runs
    on that literal-sized frame (a single-partition window over k+1
    rows, bounded by construction). Ties at the boundary are
    value-identical, so the estimate is deterministic regardless of
    which tied row ranks k+1. All-equal top values → denominator 0 →
    NULL via try_divide.

    When the input has fewer than k+1 rows there is no x_(k+1) at the
    requested order: the estimator shrinks to the EFFECTIVE k
    (n_fetched − 1 — the largest order statistic count that leaves a
    cutoff row), the mean excludes the cutoff, and the reported `k`
    column is that effective value, never the nominal request. A 0/1
    row input yields alpha NULL.

    Output: one row (k bigint — effective order used, x_tail double,
    alpha r6); x_tail is x_(k_eff+1), the tail cutoff.
    """
    top = (
        df.filter(F.col(value).isNotNull() & (F.col(value) > 0))
        .select(F.col(value).cast("double").alias("__x"))
        .orderBy(F.desc("__x"))
        .limit(k + 1)
    )
    w = Window.orderBy(F.desc("__x"))
    ranked = top.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__cnt",
        F.count(F.lit(1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )
    return ranked.groupBy().agg(
        F.least(F.lit(k), F.max("__cnt") - 1).cast("long").alias("k"),
        F.min("__x").alias("x_tail"),
        F.round(
            F.try_divide(
                F.lit(1.0),
                F.avg(
                    F.when(F.col("__rn") <= F.col("__cnt") - 1, F.log("__x"))
                )
                - F.log(F.min("__x")),
            ),
            6,
        ).alias("alpha"),
    )


def concordance_ccc(df: DataFrame, x: str, y: str) -> DataFrame:
    """Lin's concordance correlation coefficient between two paired
    measurements: ρ_c = 2·s_xy / (s_xx + s_yy + n·(x̄ − ȳ)²·…) in the
    sample form ρ_c = 2·Sxy / (Sxx + Syy + n·(x̄ − ȳ)²) (Lin 1989) —
    AGREEMENT, not just correlation: Pearson r is blind to scale and
    location bias (y = 2x + 5 has r = 1), ρ_c penalizes any departure
    from the identity line y = x. The right check when two pipelines /
    sensors are supposed to produce the SAME number (a quantized
    embedding score vs the fp32 score, a rollup-served aggregate vs
    the raw path).

    One centered two-pass moment aggregate (the stats_linreg
    discipline — raw moments cancel catastrophically on large-
    magnitude columns): a 1-row mean pass broadcast back, then one
    map-side-combinable deviation aggregate. Degenerate input (both
    columns constant) → NULL via try_divide.

    Output: one row (n bigint, pearson_r r6, ccc r6).
    """
    base = df.filter(F.col(x).isNotNull() & F.col(y).isNotNull()).select(
        F.col(x).cast("double").alias("__x"),
        F.col(y).cast("double").alias("__y"),
    )
    means = base.groupBy().agg(
        F.avg("__x").alias("__mx"), F.avg("__y").alias("__my")
    )
    dx = F.col("__x") - F.col("__mx")
    dy = F.col("__y") - F.col("__my")
    agg = base.crossJoin(F.broadcast(means)).groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dx * dx).alias("sxx"),
        F.sum(dy * dy).alias("syy"),
        F.sum(dx * dy).alias("sxy"),
        F.first("__mx").alias("mx"),
        F.first("__my").alias("my"),
    )
    bias = F.col("mx") - F.col("my")
    return agg.select(
        "n",
        F.round(
            F.try_divide(
                F.col("sxy"),
                F.sqrt(F.col("sxx") * F.col("syy")),
            ),
            6,
        ).alias("pearson_r"),
        F.round(
            F.try_divide(
                2.0 * F.col("sxy"),
                F.col("sxx") + F.col("syy") + F.col("n") * bias * bias,
            ),
            6,
        ).alias("ccc"),
    )


def markov_entropy_rate(
    events: DataFrame,
    user: str = "user_id",
    ts: str = "timestamp",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Entropy rate of the first-order journey Markov chain:
    H = −Σ_i π_i Σ_j p_ij·ln p_ij (nats/step), with π the empirical
    distribution of transition SOURCES and p_ij the unsmoothed
    conditional transition probabilities — the one-number
    predictability of user journeys (H ≈ 0: deterministic flows worth
    caching/precomputing; H near ln|types|: navigation is noise and
    "next event prediction" features won't work).

    Same single user-key exchange as transition_counts; everything
    after is arithmetic on the ≤|types|² count grid (row totals join
    back broadcast). Zero-probability cells contribute exactly 0 (the
    x·ln x → 0 limit), matching the sum-over-observed-cells form.

    Output: one row (n_steps bigint, n_types bigint, entropy_rate r6,
    max_entropy r6 [ln of observed source count]).
    """
    import math

    counts = transition_counts(
        events, user=user, ts=ts, type_col=type_col, id_col=id_col
    )
    tot = counts.groupBy("prev_type").agg(F.sum("n").alias("rt"))
    all_steps = counts.agg(F.sum("n")).first()[0] or 0
    n_types = tot.count()
    if all_steps == 0:
        return events.sparkSession.createDataFrame(
            [(0, 0, None, None)],
            "n_steps long, n_types long, entropy_rate double, "
            "max_entropy double",
        )
    p = F.col("n") / F.col("rt")
    pi = F.col("rt") / F.lit(float(all_steps))
    return (
        counts.join(F.broadcast(tot), "prev_type")
        .groupBy()
        .agg(
            F.lit(all_steps).cast("long").alias("n_steps"),
            F.lit(n_types).cast("long").alias("n_types"),
            F.round(-F.sum(pi * p * F.log(p)), 6).alias("entropy_rate"),
            F.lit(round(math.log(n_types), 6)).alias("max_entropy"),
        )
    )


def odds_ratio_2x2(
    df: DataFrame, exposure: Column | str, outcome: Column | str
) -> DataFrame:
    """2×2 association summary for two binary conditions: cell counts,
    odds ratio with the Woolf 95% log-CI
    (SE = √(1/a + 1/b + 1/c + 1/d)), and the two-proportion z
    statistic under the pooled null — the A/B readout for binary
    outcomes ("does the urgent-priority cohort fail more?") that
    chi2_independence reports only as an unsigned association
    strength.

    ONE map-side-combinable conditional aggregate produces all four
    cells; everything after is closed form on a single row. Any empty
    cell → OR/CI NULL via try_divide (the standard "add 0.5" Haldane
    correction is a caller choice, not silently applied). z uses the
    pooled-variance form, exposed with its two proportions.

    Output: one row (a, b, c, d bigint, odds_ratio r6, ci_low r6,
    ci_high r6, p1 r6, p2 r6, z_stat r6). Cells: a = exp∧out,
    b = exp∧¬out, c = ¬exp∧out, d = ¬exp∧¬out.
    """
    ex = F.col(exposure) if isinstance(exposure, str) else exposure
    ou = F.col(outcome) if isinstance(outcome, str) else outcome
    base = df.filter(ex.isNotNull() & ou.isNotNull()).select(
        ex.cast("boolean").alias("__e"), ou.cast("boolean").alias("__o")
    )
    cells = base.groupBy().agg(
        F.sum((F.col("__e") & F.col("__o")).cast("int"))
        .cast("long").alias("a"),
        F.sum((F.col("__e") & ~F.col("__o")).cast("int"))
        .cast("long").alias("b"),
        F.sum((~F.col("__e") & F.col("__o")).cast("int"))
        .cast("long").alias("c"),
        F.sum((~F.col("__e") & ~F.col("__o")).cast("int"))
        .cast("long").alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    orr = F.try_divide(a * d, b * c)
    se = F.sqrt(
        F.try_divide(F.lit(1.0), a) + F.try_divide(F.lit(1.0), b)
        + F.try_divide(F.lit(1.0), c) + F.try_divide(F.lit(1.0), d)
    )
    p1 = F.try_divide(a, a + b)
    p2 = F.try_divide(c, c + d)
    pp = F.try_divide(a + c, a + b + c + d)
    z = F.try_divide(
        p1 - p2,
        F.sqrt(
            pp * (1 - pp)
            * (F.try_divide(F.lit(1.0), a + b)
               + F.try_divide(F.lit(1.0), c + d))
        ),
    )
    return cells.select(
        "a", "b", "c", "d",
        F.round(orr, 6).alias("odds_ratio"),
        F.round(F.exp(F.log(orr) - WILSON_Z * se), 6).alias("ci_low"),
        F.round(F.exp(F.log(orr) + WILSON_Z * se), 6).alias("ci_high"),
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round(z, 6).alias("z_stat"),
    )


def cochran_q(
    df: DataFrame,
    block: Column | str,
    treatment: Column | str,
    success: Column,
) -> DataFrame:
    """Cochran's Q — the k-treatment generalization of McNemar: did the
    same subjects succeed at different rates across k conditions? With
    per-block per-treatment binary responses x_ij, column totals C_j,
    row totals R_i, and T = ΣC_j = ΣR_i:

      Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²)   ~ χ²(k−1)

    Blocks are the DISTINCT block keys observed anywhere in the frame;
    a (block, treatment) pair with no rows is a structural failure
    (x = 0), not missing data — the right semantics for "did user u do
    activity j at all", so no complete-block filter is needed (contrast
    stats_friedman / stats_page_trend, whose per-cell VALUES make
    absent cells genuinely missing).

    Every sum in Q is an INTEGER sum over 0/1 responses, and the
    numerator/denominator are folded in decimal(38,0) (DuckDB: HUGEINT)
    because T² overflows a long at ~3e9 total successes — the exact
    integers are cast to double only for the final division, so both
    engines round the SAME exact value (the stats_kruskal tie-mass
    pattern). Plan: one (block, treatment) aggregate (map-side
    combinable), one per-block combine, then single-row folds — no
    window, no collect, block cardinality unbounded.

    Output: one row (n_blocks bigint, k int, total_success bigint,
    q_stat r6).
    """
    bc = F.col(block) if isinstance(block, str) else block
    tc = F.col(treatment) if isinstance(treatment, str) else treatment
    # NULL success verdicts count as "not a success" (coalesced HERE so
    # both engines agree — max-over-NULLs skips them in Spark but a
    # CASE..ELSE 0 zeroes them in SQL)
    base = df.filter(bc.isNotNull() & tc.isNotNull()).select(
        bc.alias("__b"),
        tc.alias("__t"),
        F.coalesce(success.cast("boolean"), F.lit(False)).alias("__x"),
    )
    cell = base.groupBy("__b", "__t").agg(
        F.max(F.col("__x").cast("int")).alias("x")
    )
    k_row = cell.agg(F.count_distinct("__t").cast("int").alias("k"))
    nb_row = base.agg(F.count_distinct("__b").cast("long").alias("n_blocks"))
    col_tot = cell.groupBy("__t").agg(F.sum("x").cast("long").alias("cj"))
    c_sums = col_tot.agg(
        F.sum("cj").cast("long").alias("t_succ"),
        F.sum(F.col("cj") * F.col("cj")).cast("long").alias("sum_c2"),
    )
    row_tot = cell.groupBy("__b").agg(F.sum("x").cast("long").alias("ri"))
    r_sums = row_tot.agg(
        F.sum(F.col("ri") * F.col("ri")).cast("long").alias("sum_r2")
    )
    j = nb_row.crossJoin(k_row).crossJoin(c_sums).crossJoin(r_sums)
    kd = F.col("k").cast("decimal(38,0)")
    td = F.col("t_succ").cast("decimal(38,0)")
    c2 = F.col("sum_c2").cast("decimal(38,0)")
    r2 = F.col("sum_r2").cast("decimal(38,0)")
    q = F.try_divide(
        ((kd - 1) * (kd * c2 - td * td)).cast("double"),
        (kd * td - r2).cast("double"),
    )
    return j.select(
        "n_blocks", "k",
        F.col("t_succ").alias("total_success"),
        F.round(q, 6).alias("q_stat"),
    )


def mantel_haenszel_2x2(
    df: DataFrame,
    stratum: Column | str,
    exposure: Column | str,
    outcome: Column | str,
) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio across strata — the standard
    confounder-adjusted A/B readout ("does exposure raise the outcome
    odds once we stratify by day/segment?"), where the crude
    odds_ratio_2x2 can reverse sign entirely (Simpson's paradox).

    Per stratum i with cells (aᵢ, bᵢ, cᵢ, dᵢ) and nᵢ = aᵢ+bᵢ+cᵢ+dᵢ:
      OR_MH  = Σ aᵢdᵢ/nᵢ ÷ Σ bᵢcᵢ/nᵢ
      χ²_MH  = (|Σaᵢ − ΣEᵢ| − ½)² / ΣVᵢ   (continuity-corrected;
               Eᵢ = (aᵢ+bᵢ)(aᵢ+cᵢ)/nᵢ,
               Vᵢ = (aᵢ+bᵢ)(cᵢ+dᵢ)(aᵢ+cᵢ)(bᵢ+dᵢ)/(nᵢ²(nᵢ−1)),
               single-subject strata contribute V = 0)
      CI     = Robins-Breslow-Greenland variance of ln(OR_MH):
               ΣPᵢRᵢ/(2R²) + Σ(PᵢSᵢ+QᵢRᵢ)/(2RS) + ΣQᵢSᵢ/(2S²)
               with Pᵢ=(aᵢ+dᵢ)/nᵢ, Qᵢ=(bᵢ+cᵢ)/nᵢ, Rᵢ=aᵢdᵢ/nᵢ,
               Sᵢ=bᵢcᵢ/nᵢ, R=ΣRᵢ, S=ΣSᵢ.

    Plan: ONE grouped conditional aggregate builds the per-stratum
    cells (map-side combinable — strata can number in the billions),
    then ONE global aggregate folds the MH sums; everything after is
    closed form on a single row. No window, no collect.

    Output: one row (n_strata bigint, sum_a bigint, or_mh r6, ci_low
    r6, ci_high r6, chi2_mh r6).
    """
    stc = F.col(stratum) if isinstance(stratum, str) else stratum
    ex = F.col(exposure) if isinstance(exposure, str) else exposure
    ou = F.col(outcome) if isinstance(outcome, str) else outcome
    base = df.filter(
        stc.isNotNull() & ex.isNotNull() & ou.isNotNull()
    ).select(
        stc.alias("__s"),
        ex.cast("boolean").alias("__e"),
        ou.cast("boolean").alias("__o"),
    )
    cells = base.groupBy("__s").agg(
        F.sum((F.col("__e") & F.col("__o")).cast("int"))
        .cast("long").alias("a"),
        F.sum((F.col("__e") & ~F.col("__o")).cast("int"))
        .cast("long").alias("b"),
        F.sum((~F.col("__e") & F.col("__o")).cast("int"))
        .cast("long").alias("c"),
        F.sum((~F.col("__e") & ~F.col("__o")).cast("int"))
        .cast("long").alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    n = (a + b + c + d).cast("double")
    r_i = a * d / n
    s_i = b * c / n
    p_i = (a + d) / n
    q_i = (b + c) / n
    e_i = (a + b) * (a + c) / n
    # V's quadruple product is promoted to double BEFORE multiplying
    # (two margin-pairs each divided by n) — four bigint margins
    # multiplied raw overflow long at ~10^5-subject strata; the divided
    # shape is written identically in the DuckDB oracle so the float
    # expression trees match term for term
    v_i = F.when(
        a + b + c + d >= 2,
        ((a + b).cast("double") * (c + d) / n)
        * ((a + c).cast("double") * (b + d) / n)
        / (n - 1),
    ).otherwise(F.lit(0.0))
    sums = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(a).cast("long").alias("sum_a"),
        F.sum(r_i).alias("rr"),
        F.sum(s_i).alias("ss"),
        F.sum(e_i).alias("ee"),
        F.sum(v_i).alias("vv"),
        F.sum(p_i * r_i).alias("pr"),
        F.sum(p_i * s_i + q_i * r_i).alias("psqr"),
        F.sum(q_i * s_i).alias("qs"),
    )
    rr, ss = F.col("rr"), F.col("ss")
    orm = F.try_divide(rr, ss)
    var = (
        F.try_divide(F.col("pr"), 2 * rr * rr)
        + F.try_divide(F.col("psqr"), 2 * rr * ss)
        + F.try_divide(F.col("qs"), 2 * ss * ss)
    )
    chi2 = F.try_divide(
        F.pow(F.abs(F.col("sum_a") - F.col("ee")) - 0.5, 2), F.col("vv")
    )
    return sums.select(
        "n_strata", "sum_a",
        F.round(orm, 6).alias("or_mh"),
        F.round(F.exp(F.log(orm) - WILSON_Z * F.sqrt(var)), 6).alias("ci_low"),
        F.round(F.exp(F.log(orm) + WILSON_Z * F.sqrt(var)), 6).alias("ci_high"),
        F.round(chi2, 6).alias("chi2_mh"),
    )


def mcnemar_paired(
    events: DataFrame,
    split_ms: int,
    user: str = "user_id",
    ts: str = "timestamp",
) -> DataFrame:
    """McNemar's test on PAIRED binary states: was each subject active
    before vs after `split_ms`? Discordant counts b (active→inactive)
    and c (inactive→active) drive χ² = (|b−c|−1)²/(b+c) with the
    continuity correction (McNemar 1947) — the right significance
    test for "did retention change?", where a two-sample proportion
    test is WRONG because the same subjects appear in both periods
    (paired, not independent).

    One (user, period) dedup collapses the event log; the pairing is
    a per-user boolean aggregate (no self-join), and the statistic is
    closed form on one row. b + c = 0 (no discordant subjects) →
    NULL via try_divide.

    Output: one row (n_users bigint, n_both, n_only_before,
    n_only_after, n_neither bigint, chi2 r6).
    """
    per = (
        events.filter(F.col(user).isNotNull() & F.col(ts).isNotNull())
        .groupBy(user)
        .agg(
            F.max((F.col(ts) < split_ms).cast("int")).alias("__p1"),
            F.max((F.col(ts) >= split_ms).cast("int")).alias("__p2"),
        )
    )
    agg = per.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(((F.col("__p1") == 1) & (F.col("__p2") == 1)).cast("int"))
        .cast("long").alias("n_both"),
        F.sum(((F.col("__p1") == 1) & (F.col("__p2") == 0)).cast("int"))
        .cast("long").alias("n_only_before"),
        F.sum(((F.col("__p1") == 0) & (F.col("__p2") == 1)).cast("int"))
        .cast("long").alias("n_only_after"),
        F.sum(((F.col("__p1") == 0) & (F.col("__p2") == 0)).cast("int"))
        .cast("long").alias("n_neither"),
    )
    b = F.col("n_only_before")
    c = F.col("n_only_after")
    num = (F.abs(b - c) - 1) * (F.abs(b - c) - 1)
    return agg.select(
        "n_users", "n_both", "n_only_before", "n_only_after", "n_neither",
        F.round(F.try_divide(num, b + c), 6).alias("chi2"),
    )


def auc_rank(df: DataFrame, score: str, label: Column | str) -> DataFrame:
    """Exact ROC AUC via the rank-sum identity AUC = U/(n_pos·n_neg)
    — the probability a random positive outscores a random negative,
    with midrank tie handling (ties contribute ½, the standard
    trapezoidal convention). THE threshold-free quality-classifier
    metric to check before trusting a score column to gate a corpus
    (quality_score_lr, a dedup keep-score, a reranker).

    Rides mannwhitney_u wholesale: one _two_sample_cum_frame scan of
    the score column, exact bigint rank arithmetic, no per-row ranks
    ever materialized. AUC is u_a scaled by the pair count.

    Output: one row (auc r6, n_pos, n_neg bigint).
    """
    lab = F.col(label) if isinstance(label, str) else label
    d = df.filter(lab.isNotNull() & F.col(score).isNotNull()).select(
        F.col(score).alias("s"),
        F.when(lab, F.lit("p")).otherwise(F.lit("n")).alias("g"),
    )
    u = mannwhitney_u(d, "s", "g", "p", "n")
    return u.select(
        F.round(F.col("u_a") / (F.col("n_a") * F.col("n_b")), 6).alias(
            "auc"
        ),
        F.col("n_a").alias("n_pos"),
        F.col("n_b").alias("n_neg"),
    )


def brier_score(
    df: DataFrame, score: str, label: Column | str
) -> DataFrame:
    """Brier score of a probabilistic classifier: mean squared error
    between predicted probability and the 0/1 outcome — the PROPER
    scoring rule AUC is not (AUC only ranks; a model can have perfect
    AUC and badly-shifted probabilities, which matters the moment the
    score is used as a sampling weight or a threshold in probability
    units). Reported with the base rate, whose p·(1−p) is the
    always-predict-the-mean reference value.

    One map-side-combinable aggregate. Output: one row (n bigint,
    brier r6, base_rate r6).
    """
    lab = F.col(label) if isinstance(label, str) else label
    d = df.filter(lab.isNotNull() & F.col(score).isNotNull()).select(
        F.col(score).cast("double").alias("s"),
        lab.cast("int").alias("y"),
    )
    return d.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.avg((F.col("s") - F.col("y")) * (F.col("s") - F.col("y"))), 6
        ).alias("brier"),
        F.round(F.avg("y"), 6).alias("base_rate"),
    )


def calibration_bins(
    df: DataFrame, score: str, label: Column | str, nbins: int = 10
) -> DataFrame:
    """Reliability table: fixed-width probability bins over the score,
    each with its mean predicted probability and observed positive
    fraction — the calibration diagnostic behind the Brier number
    (WHERE is the model over/under-confident?). gap = observed −
    predicted per bin; a well-calibrated score has gaps ≈ 0
    everywhere.

    One map-side-combinable aggregate onto ≤ nbins rows; scores
    exactly 1.0 fold into the top bin.

    Output: (bin int, n bigint, avg_score r6, frac_pos r6, gap r6).
    """
    lab = F.col(label) if isinstance(label, str) else label
    d = df.filter(lab.isNotNull() & F.col(score).isNotNull()).select(
        F.col(score).cast("double").alias("s"),
        lab.cast("int").alias("y"),
    )
    b = F.least(F.floor(F.col("s") * nbins), F.lit(nbins - 1)).cast("int")
    return d.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("s"), 6).alias("avg_score"),
        F.round(F.avg("y"), 6).alias("frac_pos"),
        F.round(F.avg("y") - F.avg("s"), 6).alias("gap"),
    )


def lift_table(
    df: DataFrame, score: str, label: Column | str, nbins: int = 10
) -> DataFrame:
    """Decile gain/lift table: rank the population by score (midrank
    percentile, so ties land deterministically in one decile), split
    into nbins equal-population bands, and report each band's response
    rate plus the CUMULATIVE lift of targeting only the top bands —
    the "is the top decile worth 3× a random sample?" readout that
    turns a score into a selection budget decision.

    Percentiles come from _avg_rank_frame's range-partition scan (no
    global window over rows); scores join their band co-partitioned on
    the score value; the closing cumulative runs over nbins rows.

    Output: (band int [0 = top scores], n bigint, n_pos bigint,
    resp_rate r6, cum_lift r6).
    """
    lab = F.col(label) if isinstance(label, str) else label
    d = df.filter(lab.isNotNull() & F.col(score).isNotNull()).select(
        F.col(score).alias("v"), lab.cast("int").alias("y")
    )
    ranks, n_tot = _avg_rank_frame(d.select("v"), "v")
    pct = F.col("avg_rank") / F.lit(float(n_tot))
    banded = d.join(ranks, "v").withColumn(
        "band",
        (
            F.lit(nbins - 1)
            - F.least(F.floor(pct * nbins), F.lit(nbins - 1))
        ).cast("int"),
    )
    per = banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    tot = per.groupBy().agg(
        F.sum("n").alias("tn"), F.sum("n_pos").alias("tp")
    )
    w = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("cn", F.sum("n").over(w))
        .withColumn("cp", F.sum("n_pos").over(w))
        .select(
            "band",
            "n",
            "n_pos",
            F.round(F.col("n_pos") / F.col("n"), 6).alias("resp_rate"),
            F.round(
                F.try_divide(
                    F.col("cp") / F.col("cn"),
                    F.col("tp") / F.col("tn"),
                ),
                6,
            ).alias("cum_lift"),
        )
    )


def g_test_independence(df: DataFrame, x: str, y: str) -> DataFrame:
    """G-test of independence (log-likelihood ratio):
    G = 2·Σ O·ln(O/E) over the x×y contingency grid — chi²'s
    information-theoretic sibling (G = 2N·MI in nats), additive across
    partitions of the table and better behaved when expected counts
    are small-ish. Same null distribution (χ² with (R−1)(C−1) dof).

    Identical plan to chi2_independence: ONE groupBy collapses the
    corpus to the grid, margins re-aggregate from the collapsed grid
    and join back grid-sized. Zero-observed cells contribute 0
    exactly (O·ln(O/E) → 0), so only observed cells participate —
    no dense grid needed.

    Returns one row: (g_stat r6, dof bigint, n bigint).
    """
    grid = (
        df.filter(F.col(x).isNotNull() & F.col(y).isNotNull())
        .groupBy(x, y)
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
    )
    rm = grid.groupBy(x).agg(F.sum("obs").alias("rtot"))
    cm = grid.groupBy(y).agg(F.sum("obs").alias("ctot"))
    tot = grid.groupBy().agg(
        F.sum("obs").alias("n"),
        F.countDistinct(x).alias("nr"),
        F.countDistinct(y).alias("nc"),
    )
    e = F.col("rtot") * F.col("ctot") / F.col("n")
    return (
        grid.join(F.broadcast(rm), x)
        .join(F.broadcast(cm), y)
        .crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            F.round(
                2.0 * F.sum(F.col("obs") * F.log(F.col("obs") / e)), 6
            ).alias("g_stat"),
            ((F.max("nr") - 1) * (F.max("nc") - 1))
            .cast("long")
            .alias("dof"),
            F.max("n").cast("long").alias("n"),
        )
    )


def longest_streaks(
    events: DataFrame,
    user: str = "user_id",
    ts: str = "timestamp",
    type_col: str = "event_type",
    id_col: str = "event_id",
    min_len: int = 3,
) -> DataFrame:
    """Per-type longest same-type streaks across users — the classic
    gaps-and-islands pattern: within each user's (ts, id)-ordered
    stream, an island is a maximal run of consecutive rows with the
    same type; island id = row_number − row_number-within-type (both
    ride ONE key exchange). Reports, per event type, the longest run
    anywhere, how many runs reach `min_len`, and how many users own
    one — the "doom-scrolling / retry-storm / bot-loop" detector that
    plain counts can't see (100 clicks spread out ≠ 100 clicks in a
    row).

    Shuffle shape: one hash exchange on the user key for both
    row_numbers (shared sort), a map-side-combinable (user, type,
    island) collapse, then a tiny per-type rollup.

    Output: (type_col, max_streak bigint, n_streaks bigint
    [runs ≥ min_len], n_users bigint [distinct users with such a run]).
    """
    w = Window.partitionBy(user).orderBy(ts, id_col)
    wt = Window.partitionBy(user, type_col).orderBy(ts, id_col)
    d = (
        events.filter(
            F.col(user).isNotNull() & F.col(type_col).isNotNull()
        )
        .withColumn(
            "__isl", F.row_number().over(w) - F.row_number().over(wt)
        )
    )
    runs = d.groupBy(user, type_col, "__isl").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    return (
        runs.groupBy(type_col)
        .agg(
            F.max("len").alias("max_streak"),
            F.sum((F.col("len") >= min_len).cast("int"))
            .cast("long")
            .alias("n_streaks"),
            F.countDistinct(
                F.when(F.col("len") >= min_len, F.col(user))
            ).cast("long").alias("n_users"),
        )
    )


def jarque_bera_by_group(
    df: DataFrame, part: str, value: str
) -> DataFrame:
    """Per-group skewness, excess kurtosis, and the Jarque-Bera
    normality statistic JB = n/6·(S² + K²/4) — the "can I use
    mean±k·σ thresholds here at all?" gate for every z-score-based
    alert downstream (rolling_zscore, cusum's σ threshold): heavy
    tails or skew make 3σ fire constantly or never.

    Two-pass centered moments (the stats_linreg discipline — raw
    third/fourth moments cancel catastrophically): a per-group mean
    broadcast back onto the scan, then ONE map-side-combinable
    aggregate of Σd², Σd³, Σd⁴. Constant groups → NULL via
    try_divide.

    Output: (part, n bigint, skewness r6, ex_kurtosis r6, jb r6).
    """
    base = df.filter(
        F.col(value).isNotNull() & F.col(part).isNotNull()
    ).select(part, F.col(value).cast("double").alias("__x"))
    means = base.groupBy(part).agg(F.avg("__x").alias("__m"))
    d = F.col("__x") - F.col("__m")
    agg = (
        base.join(F.broadcast(means), part)
        .groupBy(part)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(d * d).alias("s2"),
            F.sum(d * d * d).alias("s3"),
            F.sum(d * d * d * d).alias("s4"),
        )
    )
    nd = F.col("n").cast("double")
    m2 = F.col("s2") / nd
    skew = F.try_divide(F.col("s3") / nd, F.sqrt(m2 * m2 * m2))
    kurt = F.try_divide(F.col("s4") / nd, m2 * m2) - 3.0
    return agg.select(
        part,
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("ex_kurtosis"),
        F.round(nd / 6.0 * (skew * skew + kurt * kurt / 4.0), 6).alias(
            "jb"
        ),
    )


def tukey_outlier_share(
    df: DataFrame, part: str, value: str, k: float = 1.5
) -> DataFrame:
    """Per-group Tukey-fence outlier profile: exact quartiles, the
    [q1 − k·IQR, q3 + k·IQR] fences, and the share of rows outside
    them — the boxplot's outlier definition as a monitorable number
    (the robust complement to jarque_bera: JB says "not normal",
    the Tukey share says how much mass is actually in the flagged
    region). k = 1.5 is the standard fence, 3.0 the "far out" one.

    One exact array-percentile aggregate → |groups|-row fence table
    broadcast back onto the scan (the stats_winsorize plan), then a
    map-side-combinable conditional count. Fences round 6 pre-compare
    so both engines cut on the identical boundary.

    Output: (part, n bigint, q1 r6, q3 r6, lo_fence r6, hi_fence r6,
    n_outliers bigint, outlier_share r6).
    """
    d = df.filter(
        F.col(value).isNotNull() & F.col(part).isNotNull()
    ).select(part, F.col(value).cast("double").alias("__x"))
    qs = d.groupBy(part).agg(
        F.expr("percentile(__x, array(0.25, 0.75))").alias("__q")
    ).select(
        part,
        F.round(F.element_at("__q", 1), 6).alias("q1"),
        F.round(F.element_at("__q", 2), 6).alias("q3"),
    )
    lo = F.round(F.col("q1") - k * (F.col("q3") - F.col("q1")), 6)
    hi = F.round(F.col("q3") + k * (F.col("q3") - F.col("q1")), 6)
    fenced = qs.select(part, "q1", "q3", lo.alias("lo_fence"), hi.alias("hi_fence"))
    j = d.join(F.broadcast(fenced), part)
    out = (F.col("__x") < F.col("lo_fence")) | (
        F.col("__x") > F.col("hi_fence")
    )
    return j.groupBy(part).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.first("q1").alias("q1"),
        F.first("q3").alias("q3"),
        F.first("lo_fence").alias("lo_fence"),
        F.first("hi_fence").alias("hi_fence"),
        F.sum(out.cast("int")).cast("long").alias("n_outliers"),
        F.round(F.avg(out.cast("int")), 6).alias("outlier_share"),
    )


def cvar_by_group(
    df: DataFrame, part: str, value: str, p: float = 0.95
) -> DataFrame:
    """Per-group Value-at-Risk and Conditional VaR (expected
    shortfall): the exact p-quantile and the mean of everything AT OR
    ABOVE it — "when the metric lands in its worst 5%, how bad is it
    on average?" The tail-severity number a percentile alone hides
    (p95 latency says where the tail starts, CVaR says how deep it
    runs), and the coherent risk measure VaR famously isn't.

    One exact array-percentile aggregate → |groups|-row cut table
    broadcast back onto the scan (the winsorize/tukey plan), then a
    conditional mean. The cut rounds to 6 pre-compare so both engines
    take the identical tail.

    Output: (part, n bigint, var_p r6, cvar_p r6, n_tail bigint).
    """
    d = df.filter(
        F.col(value).isNotNull() & F.col(part).isNotNull()
    ).select(part, F.col(value).cast("double").alias("__x"))
    cut = d.groupBy(part).agg(
        F.round(F.expr(f"percentile(__x, {p!r})"), 6).alias("var_p")
    )
    j = d.join(F.broadcast(cut), part)
    tail = F.col("__x") >= F.col("var_p")
    return j.groupBy(part).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.first("var_p").alias("var_p"),
        F.round(F.avg(F.when(tail, F.col("__x"))), 6).alias("cvar_p"),
        F.sum(tail.cast("int")).cast("long").alias("n_tail"),
    )


def covariance_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Full pairwise covariance + correlation matrix over k numeric
    columns in ONE pass: every co-moment Σdᵢdⱼ rides a single
    map-side-combinable aggregate (k(k+1)/2 sum expressions), centered
    against a broadcast mean row (the stats_linreg discipline — raw
    co-moments cancel catastrophically). The multivariate step up from
    stats_corr's single pair: feature screening, whitening prep, and
    redundant-metric detection read the whole matrix at once.

    Rows with a NULL in ANY of the columns drop (listwise deletion) so
    every cell describes the same population. Output is the upper
    triangle including the diagonal, exploded to rows.

    Output: (col_a, col_b, n bigint, cov r6 [sample, n−1], corr r6).
    """
    d = df
    for c in cols:
        d = d.filter(F.col(c).isNotNull())
    d = d.select(*[F.col(c).cast("double").alias(c) for c in cols])
    means = d.groupBy().agg(
        *[F.avg(c).alias(f"__m_{c}") for c in cols]
    )
    j = d.crossJoin(F.broadcast(means))
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i, a in enumerate(cols):
        for b in cols[i:]:
            da = F.col(a) - F.col(f"__m_{a}")
            db = F.col(b) - F.col(f"__m_{b}")
            aggs.append(F.sum(da * db).alias(f"__s_{a}__{b}"))
    m = j.groupBy().agg(*aggs)
    rows = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            s_ab = F.col(f"__s_{a}__{b}")
            s_aa = F.col(f"__s_{a}__{a}")
            s_bb = F.col(f"__s_{b}__{b}")
            rows.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.round(s_ab / (F.col("n") - 1), 6).alias("cov"),
                    F.round(
                        F.try_divide(s_ab, F.sqrt(s_aa * s_bb)), 6
                    ).alias("corr"),
                )
            )
    return m.select(
        "n", F.explode(F.array(*rows)).alias("cell")
    ).select(
        F.col("cell.col_a").alias("col_a"),
        F.col("cell.col_b").alias("col_b"),
        "n",
        F.col("cell.cov").alias("cov"),
        F.col("cell.corr").alias("corr"),
    )


def poisson_check(
    events: DataFrame,
    user: str = "user_id",
    ts: str = "timestamp",
) -> DataFrame:
    """Is the event stream Poisson? Fit the exponential rate to the
    pooled inter-arrival gaps (λ̂ = 1/mean gap, the MLE) and report
    the exact KS distance between the empirical gap CDF and
    Exp(λ̂) — big D means bursty or scheduled traffic, so
    Poisson-based capacity/staleness math (and "events are
    independent" assumptions in the drift tests) doesn't apply.

    Gaps come from one per-user lag window (tie order irrelevant —
    the gap multiset is tie-invariant); the empirical CDF uses the
    ks/mwu range-partition cum frame (per-distinct-gap counts, local
    cumsums, P-row offsets — no global window), and the theoretical
    CDF is a pure expression on that collapsed frame. D is exact over
    the observed support (the sup over each step's TOP corner; the
    bottom corner is checked via the previous row's cumulative — both
    corners of every step covered by evaluating F at both cum and
    cum_before).

    Output: one row (n_gaps bigint, lambda_hat r6, ks_dist r6).
    """
    w = Window.partitionBy(user).orderBy("__t")
    gaps = (
        events.filter(F.col(user).isNotNull() & F.col(ts).isNotNull())
        .select(user, F.col(ts).alias("__t"))
        .withColumn("__g", F.col("__t") - F.lag("__t").over(w))
        .filter(F.col("__g").isNotNull())
        .select(F.col("__g").cast("double").alias("g"))
    )
    lam_row = gaps.agg(
        F.count(F.lit(1)).alias("n"), F.avg("g").alias("mean_g")
    ).first()
    n, mean_g = lam_row["n"], lam_row["mean_g"]
    if not n:
        return events.sparkSession.createDataFrame(
            [(0, None, None)],
            "n_gaps long, lambda_hat double, ks_dist double",
        )
    lam = 1.0 / mean_g
    # distinct-gap cumulative via the shared two-phase scan: reuse
    # _avg_rank_frame's discipline inline (counts + local cumsum +
    # offsets), then D = max over rows of both step corners
    g = gaps.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("c"))
    d = (
        g.repartitionByRange("g")
        .sortWithinPartitions("g")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wloc = Window.partitionBy("pid").orderBy("g").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = d.withColumn("lc", F.sum("c").over(wloc))
    subtotals = {
        r["pid"]: r["sc"] or 0
        for r in d.groupBy("pid").agg(F.sum("c").alias("sc")).collect()
    }
    offsets, acc = [], 0
    for pid in range(max(subtotals, default=-1) + 1):
        offsets.append((pid, acc))
        acc += subtotals.get(pid, 0)
    off = events.sparkSession.createDataFrame(
        offsets or [(0, 0)], "pid int, off long"
    )
    cum = (F.col("lc") + F.col("off")).cast("double") / F.lit(float(n))
    cum_before = (
        F.col("lc") + F.col("off") - F.col("c")
    ).cast("double") / F.lit(float(n))
    fx = F.lit(1.0) - F.exp(-F.lit(lam) * F.col("g"))
    dist = F.greatest(F.abs(cum - fx), F.abs(cum_before - fx))
    return (
        d.join(F.broadcast(off), "pid")
        .groupBy()
        .agg(
            F.lit(n).cast("long").alias("n_gaps"),
            F.round(F.lit(lam), 6).alias("lambda_hat"),
            F.round(F.max(dist), 6).alias("ks_dist"),
        )
    )


def latest_percentile(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    id_col: str,
) -> DataFrame:
    """Where does each key's LATEST observation sit within that key's
    own history? Midrank percentile of the most recent value —
    "today's spend is at this customer's 98th percentile" — the
    per-entity anomaly framing that global z-scores miss entirely
    (a whale's normal day out-z-scores a shrimp's wildest).

    One hash exchange on the key: the latest value arrives as an
    unordered-window max over (ts, id, value) structs, and the
    percentile is a conditional aggregate against it in the SAME
    pass — no self-join, no sort. pct = (below + (ties+1)/2) / n.

    Output: (key, n bigint, last_value r6, pct_rank r6).
    """
    w = Window.partitionBy(key)
    last = F.max(
        F.struct(
            F.col(ts).alias("t"), F.col(id_col).alias("i"),
            F.col("__v").alias("v"),
        )
    ).over(w)
    d = (
        df.filter(F.col(value).isNotNull() & F.col(key).isNotNull())
        .select(key, ts, id_col, F.col(value).cast("double").alias("__v"))
        .withColumn("__last", last["v"])
    )
    below = F.sum((F.col("__v") < F.col("__last")).cast("int"))
    ties = F.sum((F.col("__v") == F.col("__last")).cast("int"))
    n = F.count(F.lit(1))
    return d.groupBy(key).agg(
        n.cast("long").alias("n"),
        F.round(F.first("__last"), 6).alias("last_value"),
        F.round(
            (below + (ties + 1) / 2.0) / n, 6
        ).alias("pct_rank"),
    )


def cochran_armitage(
    df: DataFrame,
    group: str,
    success: Column | str,
    scores: dict | None = None,
) -> DataFrame:
    """Cochran-Armitage trend-in-proportions test: is the success rate
    MONOTONE across ordered categories? z² = T²/Var(T) with
    T = Σ_i s_i(a_i − n_i·p̄), category scores s_i, per-category
    successes a_i of n_i, pooled rate p̄, and
    Var(T) = p̄(1−p̄)·(Σ n_i s_i² − (Σ n_i s_i)²/N) (Armitage 1955) —
    the ONE-df ordered alternative chi2_independence wastes power on
    ("does failure rate rise with order priority?" is a trend
    question, not an any-difference question).

    `scores`: category → numeric score; unlisted categories drop.
    ONE conditional (n, a) aggregate per category, closed form on the
    k-row frame with pooled totals broadcast back. Degenerate input
    (p̄ ∈ {0,1} or constant scores) → NULL via try_divide.

    Output: one row (n_total bigint, k bigint, p_pooled r6, t_stat r6,
    z_stat r6).
    """
    s = F.col(success) if isinstance(success, str) else success
    d = df.filter(F.col(group).isNotNull() & s.isNotNull()).select(
        F.col(group).alias("g"), s.cast("int").alias("y")
    )
    if scores:
        mapping = F.create_map(
            *[F.lit(x) for kv in scores.items() for x in kv]
        )
        d = d.withColumn("s", mapping[F.col("g")]).filter(
            F.col("s").isNotNull()
        )
    else:
        d = d.withColumn("s", F.col("g").cast("double"))
    per = d.groupBy("g").agg(
        F.first("s").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("a"),
    )
    tot = per.groupBy().agg(
        F.sum("n").alias("nt"), F.sum("a").alias("at")
    )
    pbar = F.col("at") / F.col("nt")
    t = F.sum(F.col("s") * (F.col("a") - F.col("n") * pbar))
    var = (
        F.max(pbar) * (1 - F.max(pbar))
        * (
            F.sum(F.col("n") * F.col("s") * F.col("s"))
            - F.sum(F.col("n") * F.col("s"))
            * F.sum(F.col("n") * F.col("s"))
            / F.max("nt")
        )
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            F.max("nt").cast("long").alias("n_total"),
            F.count(F.lit(1)).cast("long").alias("k"),
            F.round(F.max(pbar), 6).alias("p_pooled"),
            F.round(t, 6).alias("t_stat"),
            F.round(F.try_divide(t, F.sqrt(var)), 6).alias("z_stat"),
        )
    )


def gone_quiet(
    events: DataFrame,
    now_ms: int,
    silent_ms: int,
    active_window_ms: int,
    user: str = "user_id",
    ts: str = "timestamp",
) -> DataFrame:
    """Churn-risk absence list: subjects whose last event is older
    than `silent_ms` but who WERE active within `active_window_ms`
    before that cutoff — the "went quiet recently" set, excluding
    long-dead accounts that would drown the list. The alerting
    complement of stickiness/retention (those measure cohorts; this
    names the accounts to act on).

    ONE map-side-combinable max-ts per subject, then a pure filter —
    no joins, no windows; `now` arrives pinned by the caller (the
    engine's deterministic-now convention).

    Output: (user, last_ts bigint, silent_ms_actual bigint), only the
    gone-quiet subjects.
    """
    per = (
        events.filter(F.col(user).isNotNull() & F.col(ts).isNotNull())
        .groupBy(user)
        .agg(F.max(ts).alias("last_ts"))
    )
    cutoff = now_ms - silent_ms
    floor_ts = cutoff - active_window_ms
    return per.filter(
        (F.col("last_ts") < cutoff) & (F.col("last_ts") >= floor_ts)
    ).select(
        user,
        F.col("last_ts").cast("long").alias("last_ts"),
        (F.lit(now_ms) - F.col("last_ts")).cast("long").alias(
            "silent_ms_actual"
        ),
    )


def audience_overlap(
    events: DataFrame,
    user: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Audience overlap matrix: for every pair of event types, how
    many users touched BOTH, with the Jaccard of the two audiences —
    "do purchasers also view?" / feature-adoption overlap. Same wedge
    discipline as text_source_overlap pointed at the (type, user)
    bipartite: the corpus collapses to distinct (type, user) rows
    first, pairs generate CO-PARTITIONED ON THE USER (fan-out per
    user = types-touched², bounded by |types|), audience sizes
    broadcast back. Pairs order type_a < type_b.

    Output: (type_a, type_b, n_both bigint, jaccard r6).
    """
    tu = (
        events.filter(
            F.col(user).isNotNull() & F.col(type_col).isNotNull()
        )
        .select(F.col(type_col).alias("t"), F.col(user).alias("u"))
        .distinct()
    )
    size = tu.groupBy("t").agg(F.count(F.lit(1)).alias("sz"))
    pairs = (
        tu.alias("a")
        .join(
            tu.alias("b"),
            (F.col("a.u") == F.col("b.u")) & (F.col("a.t") < F.col("b.t")),
        )
        .groupBy(F.col("a.t").alias("type_a"), F.col("b.t").alias("type_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    return (
        pairs.join(
            F.broadcast(
                size.select(F.col("t").alias("type_a"), F.col("sz").alias("__sa"))
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                size.select(F.col("t").alias("type_b"), F.col("sz").alias("__sb"))
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both")
                / (F.col("__sa") + F.col("__sb") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


def wilcoxon_signed_rank(
    df: DataFrame, subject: str, x: str, y: str
) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED values: per subject,
    d = y − x; zero diffs drop (Wilcoxon's convention), |d| midranks
    over the remaining subjects, W⁺ = Σ ranks of positive d, and the
    normal approximation z = (W⁺ − μ)/σ with μ = m(m+1)/4,
    σ² = m(m+1)(2m+1)/24 (no tie-variance correction — documented) —
    the paired-location test McNemar (binary) and the sign test
    (direction only) both underpower: it weighs HOW LARGE each
    subject's change is, without welch_ttest's normality assumption.

    The |d| ranks come from _avg_rank_frame's range-partition scan
    over the per-subject diff frame (one row per subject — already
    collapsed), joined back co-partitioned on the |d| value. No
    global window, no data-sized driver state.

    Output: one row (m bigint [nonzero pairs], w_plus r6, z_stat r6).
    """
    d = (
        df.filter(
            F.col(subject).isNotNull()
            & F.col(x).isNotNull()
            & F.col(y).isNotNull()
        )
        .select(
            F.col(subject).alias("s"),
            (F.col(y).cast("double") - F.col(x).cast("double")).alias("d"),
        )
        .filter(F.col("d") != 0)
        .withColumn("ad", F.abs("d"))
    )
    ranks, m = _avg_rank_frame(d.select(F.col("ad").alias("v")), "v")
    agg = (
        d.join(ranks, d["ad"] == ranks["v"])
        .groupBy()
        .agg(
            F.sum(
                F.when(F.col("d") > 0, F.col("avg_rank")).otherwise(0.0)
            ).alias("wp")
        )
    )
    mu = m * (m + 1) / 4.0
    sigma = (m * (m + 1) * (2 * m + 1) / 24.0) ** 0.5
    return agg.select(
        F.lit(m).cast("long").alias("m"),
        F.round(F.col("wp"), 6).alias("w_plus"),
        F.round(
            (F.col("wp") - F.lit(mu)) / F.lit(sigma), 6
        ).alias("z_stat")
        if m > 0
        else F.lit(None).cast("double").alias("z_stat"),
    )


def cohen_kappa(
    df: DataFrame, rater_a: str, rater_b: str
) -> DataFrame:
    """Cohen's kappa between two categorical labelings of the same
    items: κ = (p_o − p_e)/(1 − p_e), observed agreement vs the
    agreement expected from the two raters' marginal distributions —
    the chance-corrected accuracy for classifier-vs-truth or
    annotator-vs-annotator audits (raw agreement flatters any pair
    of raters that both favor the majority class).

    One grid count collapses the corpus; marginals re-aggregate from
    the grid and p_e is a |labels|-sized sum. κ = 1 exactly on
    perfect agreement; p_e = 1 (both raters constant) → NULL via
    try_divide.

    Output: one row (n bigint, p_o r6, p_e r6, kappa r6).
    """
    grid = (
        df.filter(
            F.col(rater_a).isNotNull() & F.col(rater_b).isNotNull()
        )
        .groupBy(
            F.col(rater_a).alias("ra"), F.col(rater_b).alias("rb")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)  # grid feeds three tiny reductions
    )
    base = grid.groupBy().agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    ma = grid.groupBy("ra").agg(F.sum("c").alias("ca"))
    mb = grid.groupBy("rb").agg(F.sum("c").alias("cb"))
    pes = (
        ma.join(mb, ma["ra"] == mb["rb"])
        .groupBy()
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("pesum"))
    )
    j = base.crossJoin(F.broadcast(pes))
    nd = F.col("n").cast("double")
    po = F.col("agree") / nd
    pe = F.coalesce(F.col("pesum"), F.lit(0)) / (nd * nd)
    return j.select(
        "n",
        F.round(po, 6).alias("p_o"),
        F.round(pe, 6).alias("p_e"),
        F.round(F.try_divide(po - pe, F.lit(1.0) - pe), 6).alias("kappa"),
    )


def pr_curve(
    df: DataFrame,
    score: str,
    label: Column | str,
    taus: tuple[float, ...] = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
) -> DataFrame:
    """Precision/recall/F1 at a fixed threshold grid — the operating-
    point table between AUC (threshold-free) and a deployed gate (one
    threshold): pick τ by reading the row that meets the recall
    floor. ONE scan computes every threshold's confusion counts as
    conditional sums (adding a threshold adds two expressions, not a
    pass), so the full curve costs the same as a single operating
    point.

    Output: (tau r6, tp, fp, fn bigint, precision r6, recall r6,
    f1 r6); empty-prediction or empty-positive cells give NULL via
    try_divide.
    """
    lab = F.col(label) if isinstance(label, str) else label
    d = df.filter(lab.isNotNull() & F.col(score).isNotNull()).select(
        F.col(score).cast("double").alias("s"), lab.alias("y")
    )
    aggs = []
    for i, t in enumerate(taus):
        pred = F.col("s") >= t
        aggs.append(
            F.sum((pred & F.col("y")).cast("int")).cast("long").alias(f"tp{i}")
        )
        aggs.append(
            F.sum((pred & ~F.col("y")).cast("int")).cast("long").alias(f"fp{i}")
        )
        aggs.append(
            F.sum(((~pred) & F.col("y")).cast("int"))
            .cast("long")
            .alias(f"fn{i}")
        )
    m = d.groupBy().agg(*aggs)
    rows = []
    for i, t in enumerate(taus):
        tp, fp, fn = F.col(f"tp{i}"), F.col(f"fp{i}"), F.col(f"fn{i}")
        prec = F.try_divide(tp, tp + fp)
        rec = F.try_divide(tp, tp + fn)
        rows.append(
            F.struct(
                F.round(F.lit(t), 6).alias("tau"),
                tp.alias("tp"),
                fp.alias("fp"),
                fn.alias("fn"),
                F.round(prec, 6).alias("precision"),
                F.round(rec, 6).alias("recall"),
                F.round(
                    F.try_divide(2.0 * prec * rec, prec + rec), 6
                ).alias("f1"),
            )
        )
    return m.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def theil_index_by_group(
    df: DataFrame, part: str, value: str
) -> DataFrame:
    """Per-group Theil T inequality index:
    T = (1/n) Σ (x/μ)·ln(x/μ) over POSITIVE values — the
    information-theoretic inequality measure whose group/within
    DECOMPOSITION is exact (unlike Gini): T ∈ [0, ln n], 0 = perfect
    equality. Reported with the equality-normalized share
    T/ln(n) so groups of different sizes compare.

    One per-group mean broadcast back onto the scan, one aggregate.
    Non-positive values drop (ln undefined) and are counted so the
    exclusion is visible. Constant groups score exactly 0.

    Output: (part, n bigint, n_dropped bigint, theil r6,
    theil_norm r6).
    """
    base = df.filter(
        F.col(value).isNotNull() & F.col(part).isNotNull()
    ).select(part, F.col(value).cast("double").alias("__x"))
    pos = base.filter(F.col("__x") > 0)
    means = pos.groupBy(part).agg(
        F.avg("__x").alias("__mu"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    dropped = base.filter(F.col("__x") <= 0).groupBy(part).agg(
        F.count(F.lit(1)).cast("long").alias("__nd")
    )
    r = F.col("__x") / F.col("__mu")
    return (
        pos.join(F.broadcast(means), part)
        .groupBy(part)
        .agg(
            F.max("__n").alias("n"),
            F.round(F.avg(r * F.log(r)), 6).alias("theil"),
            F.round(
                F.try_divide(
                    F.avg(r * F.log(r)),
                    F.log(F.max("__n").cast("double")),
                ),
                6,
            ).alias("theil_norm"),
        )
        .join(F.broadcast(dropped), part, "left")
        .select(
            part,
            "n",
            F.coalesce("__nd", F.lit(0)).cast("long").alias("n_dropped"),
            "theil",
            "theil_norm",
        )
    )


def growth_accounting(
    events: DataFrame,
    bucket_ms: int = 604800000,
    user: str = "user_id",
    ts: str = "timestamp",
) -> DataFrame:
    """Weekly growth accounting: per bucket, how many active users are
    NEW (first-ever activity in this bucket) vs RETURNING — the
    honest split behind any "active users" chart (flat DAU can be
    healthy retention or a churn treadmill; only this split tells
    them apart).

    One (user, bucket) dedup collapses the log; each user's first
    bucket is a per-user min; new/returning is a comparison inside
    ONE map-side-combinable per-bucket count (first-bucket joins back
    co-partitioned on the user key it was grouped by).

    Output: (bucket_start bigint, n_active, n_new, n_returning
    bigint), one row per non-empty bucket.
    """
    ub = (
        events.filter(F.col(user).isNotNull() & F.col(ts).isNotNull())
        .select(
            F.col(user).alias("u"),
            (F.floor(F.col(ts) / bucket_ms) * bucket_ms)
            .cast("long")
            .alias("b"),
        )
        .distinct()
    )
    first = ub.groupBy("u").agg(F.min("b").alias("fb"))
    return (
        ub.join(first, "u")
        .groupBy(F.col("b").alias("bucket_start"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum((F.col("b") == F.col("fb")).cast("int"))
            .cast("long")
            .alias("n_new"),
            F.sum((F.col("b") != F.col("fb")).cast("int"))
            .cast("long")
            .alias("n_returning"),
        )
    )


def fisher_z_corr_diff(
    df: DataFrame, group: str, a: str, b: str, x: str, y: str
) -> DataFrame:
    """Fisher z-test for a DIFFERENCE between two groups' correlations:
    r within each group, Fisher-transformed z_r = atanh(r) =
    ½·ln((1+r)/(1−r)), and z = (z_a − z_b)/√(1/(n_a−3) + 1/(n_b−3)) —
    the "did the relationship itself change?" test (drift monitors
    watch marginals; a feature can keep its distribution while its
    correlation with the target silently flips).

    One centered co-moment aggregate per group (two-pass means, the
    stats_linreg discipline), closed form on the 2-row frame.
    Degenerate groups (constant columns or n ≤ 3) → NULL via
    try_divide.

    Output: one row (n_a, n_b bigint, r_a r6, r_b r6, z_stat r6).
    """
    base = df.filter(
        F.col(group).isin(a, b)
        & F.col(x).isNotNull()
        & F.col(y).isNotNull()
    ).select(
        F.col(group).alias("g"),
        F.col(x).cast("double").alias("__x"),
        F.col(y).cast("double").alias("__y"),
    )
    means = base.groupBy("g").agg(
        F.avg("__x").alias("__mx"), F.avg("__y").alias("__my")
    )
    dx = F.col("__x") - F.col("__mx")
    dy = F.col("__y") - F.col("__my")
    per = (
        base.join(F.broadcast(means), "g")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(dx * dx).alias("sxx"),
            F.sum(dy * dy).alias("syy"),
            F.sum(dx * dy).alias("sxy"),
        )
    )
    r = F.try_divide(F.col("sxy"), F.sqrt(F.col("sxx") * F.col("syy")))
    # atanh diverges at |r| = 1 (an exactly-collinear group); try_divide
    # turns the 1−r = 0 denominator into NULL instead of an ANSI
    # DIVIDE_BY_ZERO that would kill the whole query.
    zr = 0.5 * F.log(F.try_divide(1.0 + r, 1.0 - r))
    wide = per.groupBy().agg(
        F.max(F.when(F.col("g") == a, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("g") == b, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("g") == a, r)).alias("ra"),
        F.max(F.when(F.col("g") == b, r)).alias("rb"),
        F.max(F.when(F.col("g") == a, zr)).alias("za"),
        F.max(F.when(F.col("g") == b, zr)).alias("zb"),
    )
    return wide.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(F.col("ra"), 6).alias("r_a"),
        F.round(F.col("rb"), 6).alias("r_b"),
        F.round(
            # the Fisher z approximation is undefined for n ≤ 3: gate the
            # statistic (NULL) and try_divide the 1/(n−3) terms so a 3-row
            # group yields NULL rather than ANSI DIVIDE_BY_ZERO / NaN.
            F.when(
                (F.col("n_a") > 3) & (F.col("n_b") > 3),
                F.try_divide(
                    F.col("za") - F.col("zb"),
                    F.sqrt(
                        F.try_divide(F.lit(1.0), F.col("n_a") - 3)
                        + F.try_divide(F.lit(1.0), F.col("n_b") - 3)
                    ),
                ),
            ),
            6,
        ).alias("z_stat"),
    )


def time_in_state(
    events: DataFrame,
    user: str = "user_id",
    ts: str = "timestamp",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-in-state attribution: each inter-event interval belongs to
    the EARLIER event's type (the state the subject was in until the
    next transition), summed per type across the population — the
    dwell-time view a plain event count inverts (many short "error"
    events ≠ much time in the error state).

    One lag-window pass per user (the transition_counts exchange),
    then a map-side-combinable per-type total. Terminal events have
    no successor and contribute no dwell (documented right-censoring
    — the KM entry handles it properly when it matters).

    Output: (type_col, total_ms bigint, n_intervals bigint,
    share r6 [of all attributed dwell]).
    """
    w = Window.partitionBy(user).orderBy(ts, id_col)
    d = (
        events.filter(
            F.col(user).isNotNull() & F.col(type_col).isNotNull()
        )
        .withColumn("__nxt", F.lead(ts).over(w))
        .filter(F.col("__nxt").isNotNull())
        .select(
            type_col,
            (F.col("__nxt") - F.col(ts)).cast("long").alias("__d"),
        )
    )
    per = d.groupBy(type_col).agg(
        F.sum("__d").cast("long").alias("total_ms"),
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
    )
    tot = per.groupBy().agg(F.sum("total_ms").alias("__t"))
    return per.crossJoin(F.broadcast(tot)).select(
        type_col,
        "total_ms",
        "n_intervals",
        F.round(F.col("total_ms") / F.col("__t"), 6).alias("share"),
    )


def load_factor(
    events: DataFrame,
    bucket_ms: int = 3600000,
    type_col: str = "event_type",
    ts: str = "timestamp",
) -> DataFrame:
    """Per-type load factor over fixed time buckets: peak bucket count
    vs mean bucket count (over the type's ACTIVE buckets, documented)
    — the capacity-planning number ("provision for peak = load_factor
    × average") and the burstiness view at the fleet grain that
    per-key burstiness can't see.

    One map-side-combinable (type, bucket) count — rows bounded by
    types × buckets — then a per-type max/avg rollup. Peak bucket
    reported for drill-down; ties break on the earliest bucket.

    Output: (type_col, n_buckets bigint, mean_per_bucket r6,
    peak_count bigint, peak_bucket bigint, load_factor r6).
    """
    b = (F.floor(F.col(ts) / bucket_ms) * bucket_ms).cast("long")
    per = (
        events.filter(F.col(type_col).isNotNull() & F.col(ts).isNotNull())
        .groupBy(type_col, b.alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    peak = F.max(
        F.struct(F.col("c").alias("c"), (-F.col("b")).alias("nb"))
    )
    return per.groupBy(type_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.round(F.avg("c"), 6).alias("mean_per_bucket"),
        F.max("c").alias("peak_count"),
        (-peak["nb"]).cast("long").alias("peak_bucket"),
        F.round(F.max("c") / F.avg("c"), 6).alias("load_factor"),
    )


def running_records(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    id_col: str,
) -> DataFrame:
    """Per-key record-high census: how many observations set a new
    all-time high for their key (strictly above every earlier value;
    the first observation is record #1), plus when the standing
    record was set — "is this metric still improving, and how stale
    is its best?" (record counts of an i.i.d. series grow like ln n —
    far more frequent records mean drift, far fewer mean early
    saturation).

    Running max + one comparison on a single key exchange; the record
    census is a map-side-combinable aggregate over the flagged rows.
    Strictness makes ties non-records on both engines identically.

    Output: (key, n bigint, n_records bigint, best r6,
    best_ts bigint [earliest ts achieving the standing record]).
    """
    w = Window.partitionBy(key).orderBy(ts, id_col)
    prev_max = F.max("__v").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    d = (
        df.filter(F.col(value).isNotNull() & F.col(key).isNotNull())
        .select(key, ts, id_col, F.col(value).cast("double").alias("__v"))
        .withColumn(
            "__rec",
            prev_max.isNull() | (F.col("__v") > prev_max),
        )
    )
    best = F.max(F.struct(F.col("__v").alias("v"), (-F.col(ts)).alias("nt")))
    return d.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__rec").cast("int")).cast("long").alias("n_records"),
        F.round(best["v"], 6).alias("best"),
        (-best["nt"]).cast("long").alias("best_ts"),
    )


def bland_altman(
    df: DataFrame, subject: str, x: str, y: str
) -> DataFrame:
    """Bland-Altman agreement bounds for paired measurements: mean
    difference (bias) and the 95% limits of agreement
    bias ± 1.96·SD(diff) (Bland & Altman 1986) — the clinical-method
    standard for "can method B replace method A?", reporting the
    RANGE a new measurement may differ by, which correlation (even
    ccc) cannot: two methods can agree on average and still disagree
    by ±50% per subject.

    One paired-diff projection + a single sum/sumsq aggregate; the
    share of subjects outside the limits is computed in the SAME scan
    against the closed-form bounds (rounded 6 pre-compare, the tukey
    fence discipline, via a broadcast join of the 1-row bounds).

    Output: one row (n bigint, bias r6, loa_low r6, loa_high r6,
    n_outside bigint).
    """
    d = df.filter(
        F.col(subject).isNotNull()
        & F.col(x).isNotNull()
        & F.col(y).isNotNull()
    ).select(
        (F.col(y).cast("double") - F.col(x).cast("double")).alias("d")
    )
    m = d.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("d").alias("bias"),
        F.stddev_samp("d").alias("sd"),
    )
    bounds = m.select(
        "n",
        F.round(F.col("bias"), 6).alias("bias"),
        F.round(F.col("bias") - WILSON_Z * F.col("sd"), 6).alias("loa_low"),
        F.round(F.col("bias") + WILSON_Z * F.col("sd"), 6).alias("loa_high"),
    )
    out = d.crossJoin(F.broadcast(bounds)).groupBy().agg(
        F.max("n").alias("n"),
        F.max("bias").alias("bias"),
        F.max("loa_low").alias("loa_low"),
        F.max("loa_high").alias("loa_high"),
        F.sum(
            (
                (F.col("d") < F.col("loa_low"))
                | (F.col("d") > F.col("loa_high"))
            ).cast("int")
        )
        .cast("long")
        .alias("n_outside"),
    )
    return out


def pythagorean_means(
    df: DataFrame, part: str, value: str
) -> DataFrame:
    """Per-group arithmetic, geometric, and harmonic means over
    POSITIVE values — the three Pythagorean means side by side:
    rates and ratios average correctly under HM (mean speed over
    fixed distances), growth factors under GM (compound rates), and
    the AM ≥ GM ≥ HM spread itself is a dispersion signal (equal only
    for constant data). Non-positive values drop (ln/reciprocal
    undefined) and are counted.

    One conditional aggregate: Σx, Σln x, Σ1/x per group — a single
    map-side-combinable pass.

    Output: (part, n bigint, n_dropped bigint, am r6, gm r6, hm r6).
    """
    base = df.filter(
        F.col(value).isNotNull() & F.col(part).isNotNull()
    ).select(part, F.col(value).cast("double").alias("__x"))
    return base.groupBy(part).agg(
        F.sum((F.col("__x") > 0).cast("int")).cast("long").alias("n"),
        F.sum((F.col("__x") <= 0).cast("int")).cast("long").alias(
            "n_dropped"
        ),
        F.round(F.avg(F.when(F.col("__x") > 0, F.col("__x"))), 6).alias(
            "am"
        ),
        F.round(
            F.exp(
                F.avg(F.when(F.col("__x") > 0, F.log(F.col("__x"))))
            ),
            6,
        ).alias("gm"),
        F.round(
            F.try_divide(
                F.sum((F.col("__x") > 0).cast("int")),
                F.sum(F.when(F.col("__x") > 0, 1.0 / F.col("__x"))),
            ),
            6,
        ).alias("hm"),
    )


def eta_squared(df: DataFrame, part: str, value: str) -> DataFrame:
    """Correlation ratio η² of a numeric column against a categorical:
    SS_between / SS_total — the share of the metric's variance the
    category explains, the mixed-type dependence number between
    stats_corr (numeric-numeric) and stats_mi/cramers_v
    (categorical-categorical). η² = 0: the grouping is irrelevant;
    η² = 1: the category determines the value.

    ONE map-side-combinable (n, Σx, Σx²) aggregate per category; both
    sums close on the k-row frame with the pooled totals broadcast
    back. Constant data (SS_total = 0) → NULL via try_divide.

    Output: one row (k bigint, n bigint, eta_sq r6).
    """
    g = (
        df.filter(F.col(value).isNotNull() & F.col(part).isNotNull())
        .groupBy(part)
        .agg(
            F.count(F.lit(1)).cast("long").alias("ng"),
            F.sum(F.col(value).cast("double")).alias("sg"),
            F.sum(
                F.col(value).cast("double") * F.col(value).cast("double")
            ).alias("ssg"),
        )
    )
    tot = g.groupBy().agg(
        F.sum("ng").alias("tn"), F.sum("sg").alias("ts_")
    )
    grand = F.col("ts_") / F.col("tn")
    ss_between = F.sum(
        F.col("ng") * (F.col("sg") / F.col("ng") - grand)
        * (F.col("sg") / F.col("ng") - grand)
    )
    ss_total = F.sum(F.col("ssg")) - F.max("ts_") * F.max("ts_") / F.max(
        "tn"
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.max("tn").cast("long").alias("n"),
            F.round(F.try_divide(ss_between, ss_total), 6).alias(
                "eta_sq"
            ),
        )
    )


def hourly_profile(
    events: DataFrame,
    type_col: str = "event_type",
    ts: str = "timestamp",
) -> DataFrame:
    """Hour-of-day activity profile per event type: count and
    within-type share for each of the 24 hours — the wall-clock
    fingerprint (support tickets cluster in business hours, cron
    traffic on the hour, bots never sleep) that seasonal_adjust
    consumes as its phase mean and dashboards want raw.

    One map-side-combinable (type, hour) count — ≤ 24·|types| rows —
    with type totals broadcast back for the share.

    Output: (type_col, hour int, n bigint, share r6).
    """
    hour = ((F.col(ts) % 86400000) / 3600000).cast("int")
    per = (
        events.filter(F.col(type_col).isNotNull() & F.col(ts).isNotNull())
        .groupBy(type_col, hour.alias("hour"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = per.groupBy(type_col).agg(F.sum("n").alias("__t"))
    return per.join(F.broadcast(tot), type_col).select(
        type_col,
        "hour",
        "n",
        F.round(F.col("n") / F.col("__t"), 6).alias("share"),
    )


def process_capability(
    df: DataFrame, part: str, value: str, lsl: float, usl: float
) -> DataFrame:
    """Per-group process-capability profile against spec limits
    [lsl, usl]: the in-spec share, and the Cp / Cpk indices
    (Cp = (USL−LSL)/6σ — the potential if centered; Cpk =
    min(USL−μ, μ−LSL)/3σ — the reality including off-centering).
    The SLO view of a metric: "what fraction is in bounds" plus "how
    much margin the distribution actually has" (Cpk < 1 means the
    tails cross the limits even if today's sample happened to pass).

    ONE map-side-combinable aggregate per group (n, Σx, Σx², in-spec
    count); closed form after. Constant groups (σ = 0) → NULL indices
    via try_divide.

    Output: (part, n bigint, in_spec_share r6, cp r6, cpk r6).
    """
    d = df.filter(
        F.col(value).isNotNull() & F.col(part).isNotNull()
    ).select(part, F.col(value).cast("double").alias("__x"))
    g = d.groupBy(part).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__x").alias("s1"),
        F.sum(F.col("__x") * F.col("__x")).alias("s2"),
        F.sum(
            ((F.col("__x") >= lsl) & (F.col("__x") <= usl)).cast("int")
        ).alias("ok"),
    )
    mu = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    sig = F.sqrt(var)
    return g.select(
        part,
        "n",
        F.round(F.col("ok") / F.col("n"), 6).alias("in_spec_share"),
        F.round(F.try_divide(F.lit(usl - lsl), 6.0 * sig), 6).alias("cp"),
        F.round(
            F.try_divide(
                F.least(F.lit(usl) - mu, mu - F.lit(lsl)), 3.0 * sig
            ),
            6,
        ).alias("cpk"),
    )


def wow_growth(
    events: DataFrame,
    bucket_ms: int = 604800000,
    type_col: str = "event_type",
    ts: str = "timestamp",
) -> DataFrame:
    """Week-over-week growth per event type: each bucket's count next
    to the previous bucket's, with the percentage change — the
    trend-at-a-glance table under every growth dashboard, computed
    exactly (a missing previous bucket yields NULL growth, not a fake
    0% or ∞).

    One (type, bucket) count — types × buckets rows — then a per-type
    lag over the BUCKET frame (window sorts buckets, never events).

    Output: (type_col, bucket_start bigint, n bigint, prev_n bigint,
    growth_pct r6).
    """
    b = (F.floor(F.col(ts) / bucket_ms) * bucket_ms).cast("long")
    per = (
        events.filter(F.col(type_col).isNotNull() & F.col(ts).isNotNull())
        .groupBy(type_col, b.alias("bucket_start"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy(type_col).orderBy("bucket_start")
    prev = F.lag("n").over(w)
    return per.select(
        type_col,
        "bucket_start",
        "n",
        prev.alias("prev_n"),
        F.round(
            (F.col("n") - prev) / prev * 100.0, 6
        ).alias("growth_pct"),
    )


def dagostino_k2_by_group(
    df: DataFrame, part: str, value: str
) -> DataFrame:
    """Per-group D'Agostino K² normality omnibus: the skewness z-test
    (D'Agostino 1970 transformation), the kurtosis z-test
    (Anscombe-Glaisher 1983), and K² = Z₁² + Z₂² ~ χ²(2) under
    normality. Complements jarque_bera_by_group: JB's asymptotic χ²
    needs n in the thousands before its size is honest, while the
    K² component transforms are calibrated down to n ≈ 20 — the right
    gate for per-segment normality checks where segments are small.

    Same two-pass centered-moment plan as jarque_bera_by_group (mean
    broadcast back, ONE map-side-combinable Σd²/Σd³/Σd⁴ pass); the
    rest is closed-form on the |groups|-row aggregate. Groups with
    n ≤ 8 yield NULL z-stats (the transforms are undefined/unstable
    below that — SciPy raises at n < 8; we go NULL, not error). The
    signed cube root uses sign·|v|^(1/3) so a negative base never
    feeds pow.

    Output: (part, n bigint, skew_z r6, kurt_z r6, k2 r6).
    """
    base = df.filter(
        F.col(value).isNotNull() & F.col(part).isNotNull()
    ).select(part, F.col(value).cast("double").alias("__x"))
    means = base.groupBy(part).agg(F.avg("__x").alias("__m"))
    d = F.col("__x") - F.col("__m")
    agg = (
        base.join(F.broadcast(means), part)
        .groupBy(part)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(d * d).alias("s2"),
            F.sum(d * d * d).alias("s3"),
            F.sum(d * d * d * d).alias("s4"),
        )
    )
    n = F.col("n").cast("double")
    m2 = F.col("s2") / n
    g1 = F.try_divide(F.col("s3") / n, F.sqrt(m2 * m2 * m2))
    b2 = F.try_divide(F.col("s4") / n, m2 * m2)
    # -- skewness transform (D'Agostino 1970)
    y = g1 * F.sqrt((n + 1) * (n + 3) / (6.0 * (n - 2)))
    beta2 = (
        3.0 * (n * n + 27 * n - 70) * (n + 1) * (n + 3)
        / ((n - 2) * (n + 5) * (n + 7) * (n + 9))
    )
    w2 = F.sqrt(2.0 * (beta2 - 1)) - 1.0
    delta = F.try_divide(F.lit(1.0), F.sqrt(F.log(F.sqrt(w2))))
    alpha = F.sqrt(F.try_divide(F.lit(2.0), w2 - 1))
    ya = F.try_divide(y, alpha)
    z1 = delta * F.log(ya + F.sqrt(ya * ya + 1))
    # -- kurtosis transform (Anscombe-Glaisher 1983)
    eb2 = 3.0 * (n - 1) / (n + 1)
    vb2 = 24.0 * n * (n - 2) * (n - 3) / ((n + 1) * (n + 1) * (n + 3) * (n + 5))
    xk = (b2 - eb2) / F.sqrt(vb2)
    sb1 = (
        6.0 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9))
        * F.sqrt(6.0 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
    )
    a = 6.0 + 8.0 / sb1 * (2.0 / sb1 + F.sqrt(1.0 + 4.0 / (sb1 * sb1)))
    inner = F.try_divide(1.0 - 2.0 / a, 1.0 + xk * F.sqrt(2.0 / (a - 4)))
    cbrt_inner = F.signum(inner) * F.pow(F.abs(inner), 1.0 / 3.0)
    z2 = F.try_divide(1.0 - 2.0 / (9.0 * a) - cbrt_inner, F.sqrt(2.0 / (9.0 * a)))
    small = F.col("n") <= 8
    z1o = F.when(~small, F.round(z1, 6))
    z2o = F.when(~small, F.round(z2, 6))
    return agg.select(
        part,
        "n",
        z1o.alias("skew_z"),
        z2o.alias("kurt_z"),
        F.when(~small, F.round(z1 * z1 + z2 * z2, 6)).alias("k2"),
    )


def log_rank_test(
    durations: DataFrame, group: str = "grp", time_col: str = "dur"
) -> DataFrame:
    """Two-group log-rank test over uncensored durations — "do these two
    cohorts have the same survival curve?", the inferential follow-up
    to kaplan_meier's descriptive curve. At each distinct event time:
    n₁ⱼ/nⱼ at risk, dⱼ events, E₁ⱼ = dⱼ·n₁ⱼ/nⱼ, hypergeometric
    variance Vⱼ; χ² = (ΣO₁ⱼ − ΣE₁ⱼ)² / ΣVⱼ ~ χ²(1).

    Plan: collapse to per-(time, group) death counts first (the only
    pass over the raw rows, map-side combinable), then at-risk counts
    come from reverse cumulative sums over the DISTINCT-TIME frame —
    the window sorts |distinct durations| rows, never subjects.
    `group` must be boolean-like: TRUE = group 1.

    Output: one row (n1, n2 bigint, observed1 r6→bigint-valued,
    expected1 r6, var_sum r6, chi2 r6).
    """
    base = durations.filter(
        F.col(time_col).isNotNull() & F.col(group).isNotNull()
    ).select(
        F.col(time_col).cast("double").alias("t"),
        F.col(group).cast("boolean").alias("g1"),
    )
    per_t = base.groupBy("t").agg(
        F.sum(F.col("g1").cast("long")).alias("d1"),
        F.count(F.lit(1)).cast("long").alias("dj"),
    )
    # at-risk at time t = subjects with duration >= t: reverse cumsum
    w = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_t.select(
        "t", "d1", "dj",
        F.sum("d1").over(w).alias("n1j"),
        F.sum("dj").over(w).alias("nj"),
    )
    d1, dj, n1j, nj = (F.col(c).cast("double") for c in ("d1", "dj", "n1j", "nj"))
    e1 = dj * n1j / nj
    v = F.when(
        nj > 1,
        dj * (n1j / nj) * (1 - n1j / nj) * (nj - dj) / (nj - 1),
    ).otherwise(F.lit(0.0))
    agg = risk.groupBy().agg(
        F.sum("d1").cast("long").alias("observed1"),
        F.sum(F.col("dj") - F.col("d1")).cast("long").alias("observed2"),
        F.sum(e1).alias("e1"),
        F.sum(v).alias("vs"),
        F.sum("d1").cast("double").alias("o1"),
    )
    chi2 = F.try_divide(
        (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")), F.col("vs")
    )
    return agg.select(
        F.col("observed1").alias("n1"),
        F.col("observed2").alias("n2"),
        F.round("e1", 6).alias("expected1"),
        F.round("vs", 6).alias("var_sum"),
        F.round(chi2, 6).alias("chi2"),
    )


def cronbach_alpha(
    df: DataFrame, items: list, id_col: str | None = None
) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient over k item
    columns: α = k/(k−1) · (1 − Σ var(itemᵢ) / var(Σ items)) — "do these
    k signals measure one underlying thing?" (quality sub-scores,
    embedding facets). Sample variances throughout.

    ONE aggregate computes every per-item variance and the row-sum
    variance simultaneously (no pivot, no per-item pass): k var_samp
    expressions + var_samp of the in-row sum. Rows with any NULL item
    are dropped (listwise deletion — the standard convention).

    Output: one row (n bigint, k int, sum_item_var r6, total_var r6,
    alpha r6).
    """
    k = len(items)
    cond = F.lit(True)
    for it in items:
        cond = cond & F.col(it).isNotNull()
    rows = df.filter(cond)
    total = sum((F.col(it).cast("double") for it in items[1:]),
                F.col(items[0]).cast("double"))
    aggs = [F.var_samp(F.col(it).cast("double")).alias(f"v{i}")
            for i, it in enumerate(items)]
    g = rows.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.var_samp(total).alias("vt"),
        *aggs,
    )
    sv = sum((F.col(f"v{i}") for i in range(1, k)), F.col("v0"))
    alpha = (k / (k - 1.0)) * (1.0 - F.try_divide(sv, F.col("vt")))
    return g.select(
        "n",
        F.lit(k).alias("k"),
        F.round(sv, 6).alias("sum_item_var"),
        F.round("vt", 6).alias("total_var"),
        F.round(alpha, 6).alias("alpha"),
    )


def icc_oneway(
    df: DataFrame, part: str, value: str
) -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1): how much of
    the total variance is BETWEEN groups — "are repeated measurements of
    the same subject more alike than measurements of different
    subjects?" (user-level value consistency, rater agreement).
    Unbalanced design uses the standard k₀ = (N − Σnᵢ²/N)/(a−1)
    average group size. ICC = (MSB − MSW)/(MSB + (k₀−1)·MSW).

    Two map-side-combinable aggregates: per-group (nᵢ, Σx, Σx²) — one
    shuffle on the group key — then a single global combine of the
    |groups|-row frame. No row ever crosses the wire twice.

    Output: one row (n_groups bigint, n bigint, k0 r6, msb r6, msw r6,
    icc r6).
    """
    base = df.filter(
        F.col(part).isNotNull() & F.col(value).isNotNull()
    ).select(F.col(part).alias("g"), F.col(value).cast("double").alias("x"))
    per = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("ni"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    g = per.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("ni").alias("nn"),
        F.sum("sx").alias("tsx"),
        F.sum("sxx").alias("tsxx"),
        F.sum(F.col("sx") * F.col("sx") / F.col("ni")).alias("sgm"),
        F.sum(F.col("ni") * F.col("ni")).alias("sn2"),
    )
    a = F.col("n_groups").cast("double")
    nn = F.col("nn")
    ssb = F.col("sgm") - F.col("tsx") * F.col("tsx") / nn
    ssw = F.col("tsxx") - F.col("sgm")
    msb = F.try_divide(ssb, a - 1)
    msw = F.try_divide(ssw, nn - a)
    k0 = F.try_divide(nn - F.col("sn2") / nn, a - 1)
    icc = F.try_divide(msb - msw, msb + (k0 - 1) * msw)
    return g.select(
        "n_groups",
        nn.cast("long").alias("n"),
        F.round(k0, 6).alias("k0"),
        F.round(msb, 6).alias("msb"),
        F.round(msw, 6).alias("msw"),
        F.round(icc, 6).alias("icc"),
    )


def friedman_test(
    df: DataFrame, block: Column | str, treatment: str, value: str
) -> DataFrame:
    """Friedman rank test over a (block × treatment) table — the
    nonparametric repeated-measures ANOVA: within each complete block,
    rank the k treatment cell values (ties → midrank), then
    χ² = 12/(b·k·(k+1)) · Σⱼ Rⱼ² − 3·b·(k+1) on the per-treatment rank
    sums. "Does event_type level differ day over day, ignoring the
    day-to-day scale?"

    Cells collapse first (ONE groupBy over the raw rows, map-side
    combinable, avg per cell); only COMPLETE blocks (all k treatments
    present) enter, per the test's definition. The rank window sorts
    k rows per block — bounded by the treatment cardinality, never the
    event count.

    Output: one row (n_blocks bigint, k int→bigint, chi2 r6) plus the
    per-treatment rank sums as a check column (rank_sums array stringly
    avoided — emitted as separate frame would break the single-row
    contract; the sums live in chi2 already).
    """
    bcol = F.col(block) if isinstance(block, str) else block
    cells = (
        df.filter(
            bcol.isNotNull()
            & F.col(treatment).isNotNull()
            & F.col(value).isNotNull()
        )
        .groupBy(bcol.alias("b"), F.col(treatment).alias("t"))
        .agg(F.avg(F.col(value).cast("double")).alias("x"))
    )
    k_total = cells.select(F.count_distinct("t").alias("k"))
    complete = (
        cells.groupBy("b")
        .agg(F.count(F.lit(1)).alias("kb"))
        .join(F.broadcast(k_total), F.col("kb") == F.col("k"))
        .select("b")
    )
    kept = cells.join(complete, "b")
    # midrank within block: min-rank + (ties − 1)/2 (identical SQL shape
    # on both engines: rank() + (count(*) over (b, x) − 1)/2)
    minrank = F.rank().over(Window.partitionBy("b").orderBy("x"))
    nties = F.count(F.lit(1)).over(Window.partitionBy("b", "x"))
    ranked = kept.select(
        "b", "t",
        (minrank + (nties - 1) / 2.0).alias("r"),
    )
    rsums = ranked.groupBy("t").agg(F.sum("r").alias("rj"))
    out = rsums.crossJoin(
        F.broadcast(
            ranked.groupBy().agg(
                F.count_distinct("b").cast("double").alias("bb"),
                F.count_distinct("t").cast("double").alias("kk"),
            )
        )
    ).groupBy().agg(
        F.first("bb").alias("bb"),
        F.first("kk").alias("kk"),
        F.sum(F.col("rj") * F.col("rj")).alias("sr2"),
    )
    bb, kk = F.col("bb"), F.col("kk")
    chi2 = 12.0 / (bb * kk * (kk + 1)) * F.col("sr2") - 3.0 * bb * (kk + 1)
    return out.select(
        bb.cast("long").alias("n_blocks"),
        kk.cast("long").alias("k"),
        F.round(chi2, 6).alias("chi2"),
    )


def risk_ratio_2x2(
    df: DataFrame, exposure: Column | str, outcome: Column | str
) -> DataFrame:
    """2×2 relative risk with the Katz 95% log-CI — the epidemiology
    companion to odds_ratio_2x2: RR = P(out|exp)/P(out|¬exp) reads
    directly as "how many times likelier", which the odds ratio only
    approximates when the outcome is rare. SE(log RR) =
    √(1/a − 1/(a+b) + 1/c − 1/(c+d)) (Katz 1978). Also emits the risk
    difference and NNT = 1/|RD| (number needed to treat).

    Same single conditional-aggregate plan as odds_ratio_2x2; empty
    cells → NULL via try_divide, no silent continuity correction.

    Output: one row (a, b, c, d bigint, risk_ratio r6, ci_low r6,
    ci_high r6, risk_diff r6, nnt r6).
    """
    ex = F.col(exposure) if isinstance(exposure, str) else exposure
    ou = F.col(outcome) if isinstance(outcome, str) else outcome
    base = df.filter(ex.isNotNull() & ou.isNotNull()).select(
        ex.cast("boolean").alias("__e"), ou.cast("boolean").alias("__o")
    )
    cells = base.groupBy().agg(
        F.sum((F.col("__e") & F.col("__o")).cast("int")).cast("long").alias("a"),
        F.sum((F.col("__e") & ~F.col("__o")).cast("int")).cast("long").alias("b"),
        F.sum((~F.col("__e") & F.col("__o")).cast("int")).cast("long").alias("c"),
        F.sum((~F.col("__e") & ~F.col("__o")).cast("int")).cast("long").alias("d"),
    )
    a, b, c, d = (F.col(x).cast("double") for x in ("a", "b", "c", "d"))
    p1 = F.try_divide(a, a + b)
    p2 = F.try_divide(c, c + d)
    rr = F.try_divide(p1, p2)
    se = F.sqrt(
        F.try_divide(F.lit(1.0), a) - F.try_divide(F.lit(1.0), a + b)
        + F.try_divide(F.lit(1.0), c) - F.try_divide(F.lit(1.0), c + d)
    )
    rd = p1 - p2
    return cells.select(
        "a", "b", "c", "d",
        F.round(rr, 6).alias("risk_ratio"),
        F.round(F.exp(F.log(rr) - WILSON_Z * se), 6).alias("ci_low"),
        F.round(F.exp(F.log(rr) + WILSON_Z * se), 6).alias("ci_high"),
        F.round(rd, 6).alias("risk_diff"),
        F.round(F.try_divide(F.lit(1.0), F.abs(rd)), 6).alias("nnt"),
    )


def gk_gamma(
    df: DataFrame, x: Column | str, y: Column | str
) -> DataFrame:
    """Goodman-Kruskal gamma between two ORDINAL bucketed columns:
    γ = (C − D)/(C + D) over concordant/discordant pairs, ties ignored
    — the ordinal-association measure that stays interpretable under
    heavy ties (where tau-b's denominator drags toward 0). "Do later
    hours carry higher values?" on bucketed axes.

    Never a row-level pair join: rows collapse to the (x, y)
    contingency CELLS first (bounded by bucket cardinalities), and C/D
    come from the cells×cells self-join — |cells|² work independent of
    the row count, the only pair census that survives 100 TB.

    Output: one row (n_cells bigint, concordant bigint, discordant
    bigint, gamma r6).
    """
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    cells = (
        df.filter(xc.isNotNull() & yc.isNotNull())
        .groupBy(xc.alias("cx"), yc.alias("cy"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    conc = (
        a.join(b, (F.col("a.cx") < F.col("b.cx")) & (F.col("a.cy") < F.col("b.cy")))
        .groupBy().agg(F.sum(F.col("a.n") * F.col("b.n")).alias("concordant"))
    )
    disc = (
        a.join(b, (F.col("a.cx") < F.col("b.cx")) & (F.col("a.cy") > F.col("b.cy")))
        .groupBy().agg(F.sum(F.col("a.n") * F.col("b.n")).alias("discordant"))
    )
    nc = cells.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
    out = nc.crossJoin(F.broadcast(conc)).crossJoin(F.broadcast(disc))
    cN = F.coalesce(F.col("concordant"), F.lit(0)).cast("long")
    dN = F.coalesce(F.col("discordant"), F.lit(0)).cast("long")
    return out.select(
        "n_cells",
        cN.alias("concordant"),
        dN.alias("discordant"),
        F.round(F.try_divide(cN - dN, (cN + dN).cast("double")), 6).alias("gamma"),
    )


def interevent_exponential(
    df: DataFrame,
    key: str = "event_type",
    ts: str = "timestamp",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key inter-arrival-time model check: the exponential MLE
    (λ = 1/mean gap) plus the exact KS distance between the empirical
    gap distribution and Exponential(λ̂) — "is this stream Poisson, or
    does it burst?" as a single calibrated number per key (burstiness
    gives the sign; the KS distance says how far the whole CDF is off).

    Gaps come from ONE lag over the per-key time-ordered frame (ties
    broken by id — deterministic); the KS sup runs over the per-key
    SORTED gap frame with the standard two-sided bound
    max(i/n − F(xᵢ), F(xᵢ) − (i−1)/n). The sort is per-key inside the
    hash partition — no global sort. At 100 TB the per-key sort is the
    cost driver; sample per key first if keys are huge.

    Output: (key, n_gaps bigint, mean_gap_ms r6, lambda_per_s r6,
    ks_stat r6).
    """
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(id_col).asc())
    gaps = (
        df.filter(F.col(key).isNotNull() & F.col(ts).isNotNull())
        .select(key, (F.col(ts) - F.lag(ts).over(w)).cast("double").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    stats = gaps.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.avg("g").alias("mu"),
    )
    ranked = gaps.join(F.broadcast(stats), key).select(
        key, "n_gaps", "mu", "g",
        F.row_number()
        .over(Window.partitionBy(key).orderBy(F.col("g").asc()))
        .cast("double")
        .alias("i"),
    )
    # F(x) under Exponential(1/mu), rounded 6 pre-sup so both engines
    # compare identical doubles
    fx = F.round(1.0 - F.exp(-F.col("g") / F.col("mu")), 6)
    nd = F.col("n_gaps").cast("double")
    d = F.greatest(F.col("i") / nd - fx, fx - (F.col("i") - 1) / nd)
    out = ranked.select(key, "n_gaps", "mu", d.alias("d")).groupBy(key).agg(
        F.first("n_gaps").alias("n_gaps"),
        F.first("mu").alias("mu"),
        F.max("d").alias("ks"),
    )
    return out.select(
        key,
        "n_gaps",
        F.round("mu", 6).alias("mean_gap_ms"),
        F.round(F.lit(1000.0) / F.col("mu"), 6).alias("lambda_per_s"),
        F.round("ks", 6).alias("ks_stat"),
    )


def attribution_touch(
    df: DataFrame,
    conversion: str = "purchase",
    user: str = "user_id",
    kind: str = "event_type",
    ts: str = "timestamp",
    id_col: str = "event_id",
) -> DataFrame:
    """First-touch vs last-touch conversion attribution: for every user
    with a conversion, which channel (event kind) was their FIRST and
    which their LAST non-conversion event strictly before their first
    conversion — the two bookend models every marketing-attribution
    question starts from. Emitted as per-channel credit counts.

    Plan: per-user first-conversion time (ONE filtered min), broadcast
    back onto the scan, min_by/max_by over (ts, id) structs pick the
    bookends (deterministic under ts ties via the id extension), then
    a channels-sized union-count. Users with no pre-conversion touch
    fall out (no fabricated "direct" channel).

    Output: (channel, n_first_touch bigint, n_last_touch bigint).
    """
    conv = (
        df.filter(F.col(kind) == conversion)
        .groupBy(user)
        .agg(F.min(ts).alias("conv_ts"))
    )
    pre = (
        df.filter(F.col(kind) != conversion)
        .join(F.broadcast(conv), user)
        .filter(F.col(ts) < F.col("conv_ts"))
    )
    bounds = pre.groupBy(user).agg(
        F.min_by(kind, F.struct(ts, id_col)).alias("first_touch"),
        F.max_by(kind, F.struct(ts, id_col)).alias("last_touch"),
    )
    firsts = bounds.groupBy(F.col("first_touch").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_first_touch")
    )
    lasts = bounds.groupBy(F.col("last_touch").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_last_touch")
    )
    return (
        firsts.join(lasts, "channel", "full")
        .select(
            "channel",
            F.coalesce("n_first_touch", F.lit(0)).alias("n_first_touch"),
            F.coalesce("n_last_touch", F.lit(0)).alias("n_last_touch"),
        )
    )


def jonckheere_terpstra(
    df: DataFrame,
    group_expr: Column | str,
    value_expr: Column | str,
) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend test on BUCKETED
    values: JT = Σ over ordered group pairs (a < b) of the Mann-Whitney
    count #(xₐ < x_b) + ½·#(xₐ = x_b) — "does the value level RISE
    across the ordered groups?", strictly sharper than Kruskal-Wallis
    when the alternative is monotone. Mean and the no-tie variance give
    the normal z (the exact tie-corrected variance is a caller
    refinement; both engines compute the identical approximation).

    The value axis must be bucketed (integer cells) by the caller via
    `value_expr` — rows collapse to (group, value-cell) counts first,
    so the pair census is |cells|² work on a bounded grid, independent
    of the row count (the gk_gamma discipline).

    Output: one row (n bigint, n_groups int, jt r6, mean_jt r6,
    var_jt r6, z r6).
    """
    g = group_expr if not isinstance(group_expr, str) else F.col(group_expr)
    v = value_expr if not isinstance(value_expr, str) else F.col(value_expr)
    cells = (
        df.filter(g.isNotNull() & v.isNotNull())
        .groupBy(g.alias("g"), v.alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    less = (
        a.join(b, (F.col("a.g") < F.col("b.g")) & (F.col("a.y") < F.col("b.y")))
        .groupBy().agg(F.sum(F.col("a.n") * F.col("b.n")).alias("u_less"))
    )
    eq = (
        a.join(b, (F.col("a.g") < F.col("b.g")) & (F.col("a.y") == F.col("b.y")))
        .groupBy().agg(F.sum(F.col("a.n") * F.col("b.n")).alias("u_eq"))
    )
    sizes = cells.groupBy("g").agg(F.sum("n").alias("ng"))
    tot = sizes.groupBy().agg(
        F.sum("ng").alias("nn"),
        F.count(F.lit(1)).cast("int").alias("n_groups"),
        F.sum(F.col("ng") * F.col("ng")).alias("sn2"),
        F.sum(F.col("ng") * F.col("ng") * (2 * F.col("ng") + 3)).alias("sn23"),
    )
    out = tot.crossJoin(F.broadcast(less)).crossJoin(F.broadcast(eq))
    nn = F.col("nn").cast("double")
    jt = F.coalesce(F.col("u_less"), F.lit(0)).cast("double") + 0.5 * F.coalesce(
        F.col("u_eq"), F.lit(0)
    ).cast("double")
    mean_jt = (nn * nn - F.col("sn2")) / 4.0
    var_jt = (nn * nn * (2 * nn + 3) - F.col("sn23")) / 72.0
    return out.select(
        F.col("nn").cast("long").alias("n"),
        "n_groups",
        F.round(jt, 6).alias("jt"),
        F.round(mean_jt, 6).alias("mean_jt"),
        F.round(var_jt, 6).alias("var_jt"),
        F.round(F.try_divide(jt - mean_jt, F.sqrt(var_jt)), 6).alias("z"),
    )


def somers_d(
    df: DataFrame, x: Column | str, y: Column | str
) -> DataFrame:
    """Somers' D_yx — the ASYMMETRIC ordinal association (y dependent):
    (C − D) / (C + D + T_y) where T_y counts pairs tied on y but split
    on x. The directional refinement of gk_gamma (gamma drops ALL ties
    and overstates association on coarse scales; D charges y-ties
    against the predictor x). D_yx is also the Gini/AUC companion:
    AUC = (D + 1)/2 when y is binary.

    Identical cells-first plan to gk_gamma: |cells|² census on the
    bounded bucket grid, never a row-level pair join.

    Output: one row (n_cells bigint, concordant bigint, discordant
    bigint, ties_y bigint, d_yx r6).
    """
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    cells = (
        df.filter(xc.isNotNull() & yc.isNotNull())
        .groupBy(xc.alias("cx"), yc.alias("cy"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    conc = (
        a.join(b, (F.col("a.cx") < F.col("b.cx")) & (F.col("a.cy") < F.col("b.cy")))
        .groupBy().agg(F.sum(F.col("a.n") * F.col("b.n")).alias("concordant"))
    )
    disc = (
        a.join(b, (F.col("a.cx") < F.col("b.cx")) & (F.col("a.cy") > F.col("b.cy")))
        .groupBy().agg(F.sum(F.col("a.n") * F.col("b.n")).alias("discordant"))
    )
    ty = (
        a.join(b, (F.col("a.cx") < F.col("b.cx")) & (F.col("a.cy") == F.col("b.cy")))
        .groupBy().agg(F.sum(F.col("a.n") * F.col("b.n")).alias("ties_y"))
    )
    nc = cells.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
    out = (
        nc.crossJoin(F.broadcast(conc))
        .crossJoin(F.broadcast(disc))
        .crossJoin(F.broadcast(ty))
    )
    cN = F.coalesce(F.col("concordant"), F.lit(0)).cast("long")
    dN = F.coalesce(F.col("discordant"), F.lit(0)).cast("long")
    tN = F.coalesce(F.col("ties_y"), F.lit(0)).cast("long")
    return out.select(
        "n_cells",
        cN.alias("concordant"),
        dN.alias("discordant"),
        tN.alias("ties_y"),
        F.round(
            F.try_divide(cN - dN, (cN + dN + tN).cast("double")), 6
        ).alias("d_yx"),
    )


def cohens_h(
    df: DataFrame, exposure: Column | str, outcome: Column | str
) -> DataFrame:
    """Cohen's h effect size for two proportions: h = 2·asin(√p₁) −
    2·asin(√p₂) (the arcsine-stabilized difference) — the effect-size
    companion to risk_ratio_2x2's inferential CI: h is comparable
    across baseline rates where a raw risk difference is not
    (0.01→0.02 and 0.50→0.51 have the same RD but wildly different h).

    Same single conditional-aggregate plan as odds_ratio_2x2.

    Output: one row (n1, n2 bigint, p1 r6, p2 r6, h r6).
    """
    ex = F.col(exposure) if isinstance(exposure, str) else exposure
    ou = F.col(outcome) if isinstance(outcome, str) else outcome
    base = df.filter(ex.isNotNull() & ou.isNotNull()).select(
        ex.cast("boolean").alias("__e"), ou.cast("boolean").alias("__o")
    )
    g = base.groupBy().agg(
        F.sum(F.col("__e").cast("long")).alias("n1"),
        F.sum((~F.col("__e")).cast("long")).alias("n2"),
        F.sum((F.col("__e") & F.col("__o")).cast("long")).alias("k1"),
        F.sum((~F.col("__e") & F.col("__o")).cast("long")).alias("k2"),
    )
    p1 = F.try_divide(F.col("k1"), F.col("n1").cast("double"))
    p2 = F.try_divide(F.col("k2"), F.col("n2").cast("double"))
    h = 2.0 * F.asin(F.sqrt(p1)) - 2.0 * F.asin(F.sqrt(p2))
    return g.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round(h, 6).alias("h"),
    )


def grubbs_statistic(
    df: DataFrame, part: str, value: str
) -> DataFrame:
    """Per-group Grubbs outlier statistic G = max|x − x̄|/s (sample s)
    with the offending value — "is the single most extreme point in
    this segment an outlier?" The one-point complement to
    tukey_outlier_share's mass measure; compare G against the
    t-distribution critical value for the formal test (the statistic
    is the distributed part; the critical value is a constant lookup).

    Two-pass: per-group (mean, s) broadcast back, then ONE max_by
    aggregate picks the extreme (ties → larger |dev| then larger x,
    via the struct ordering — deterministic cross-engine).

    Output: (part, n bigint, mean r6, sd r6, extreme_value r6, g r6).
    """
    base = df.filter(
        F.col(part).isNotNull() & F.col(value).isNotNull()
    ).select(part, F.col(value).cast("double").alias("__x"))
    ms = base.groupBy(part).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("__x").alias("mu"),
        F.stddev_samp("__x").alias("sd"),
    )
    j = base.join(F.broadcast(ms), part)
    dev = F.round(F.abs(F.col("__x") - F.col("mu")), 6)
    out = j.groupBy(part).agg(
        F.first("n").alias("n"),
        F.first("mu").alias("mu"),
        F.first("sd").alias("sd"),
        F.max(F.struct(dev.alias("d"), F.col("__x").alias("x"))).alias("ext"),
    )
    return out.select(
        part,
        "n",
        F.round("mu", 6).alias("mean"),
        F.round("sd", 6).alias("sd"),
        F.round(F.col("ext.x"), 6).alias("extreme_value"),
        F.round(F.try_divide(F.col("ext.d"), F.col("sd")), 6).alias("g"),
    )


def conversion_latency(
    df: DataFrame,
    from_kind: str = "signup",
    to_kind: str = "purchase",
    user: str = "user_id",
    kind: str = "event_type",
    ts: str = "timestamp",
) -> DataFrame:
    """Signup→first-purchase latency distribution: for every user with
    both a `from_kind` and a LATER `to_kind` event, the gap between
    their first `from_kind` and the first `to_kind` at-or-after it —
    exact p50/p90/p99 and mean across converting users. The
    time-to-value funnel number product dashboards lead with.

    ONE conditional min aggregate per user computes both anchors (no
    join, no window over raw events); percentiles are one exact
    array-percentile over the |converting users| frame.

    Output: one row (n_converted bigint, mean_ms r6, p50_ms r6,
    p90_ms r6, p99_ms r6).
    """
    per = (
        df.filter(F.col(user).isNotNull() & F.col(ts).isNotNull())
        .groupBy(user)
        .agg(
            F.min(F.when(F.col(kind) == from_kind, F.col(ts))).alias("t0")
        )
        .filter(F.col("t0").isNotNull())
    )
    first_to = (
        df.filter(F.col(kind) == to_kind)
        .join(F.broadcast(per), user)
        .filter(F.col(ts) >= F.col("t0"))
        .groupBy(user)
        .agg((F.min(ts) - F.first("t0")).cast("double").alias("lat"))
    )
    return first_to.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.avg("lat"), 6).alias("mean_ms"),
        F.round(F.expr("percentile(lat, 0.5)"), 6).alias("p50_ms"),
        F.round(F.expr("percentile(lat, 0.9)"), 6).alias("p90_ms"),
        F.round(F.expr("percentile(lat, 0.99)"), 6).alias("p99_ms"),
    )


def dow_hour_profile(
    df: DataFrame, ts: str = "timestamp"
) -> DataFrame:
    """Day-of-week × hour-of-day activity grid with the independence
    χ²: the 7×24 cell counts, each cell's expected count under
    dow ⊥ hour, and the total χ² with df = 6·23 — "is the weekly
    rhythm just the daily rhythm repeated, or do weekends have their
    own shape?" (hourly_profile answers the 24-axis alone).

    Day-of-week computes ARITHMETICALLY from epoch ms ((days+4) mod 7,
    0 = Sunday) — no calendar/timezone functions, so both engines and
    any session timezone agree. One grid aggregate (≤168 rows), then
    margins re-aggregate from the grid.

    Output: (dow int, hour int, n bigint, expected r6, chi2_cell r6)
    — 168 rows; total χ² = sum(chi2_cell), recoverable by the caller.
    """
    base = df.filter(F.col(ts).isNotNull()).select(
        F.expr(f"cast((({ts} div 86400000) + 4) % 7 as int)").alias("dow"),
        F.expr(f"cast(({ts} div 3600000) % 24 as int)").alias("hour"),
    )
    grid = base.groupBy("dow", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rowm = grid.groupBy("dow").agg(F.sum("n").alias("nr"))
    colm = grid.groupBy("hour").agg(F.sum("n").alias("nc"))
    tot = grid.groupBy().agg(F.sum("n").alias("nt"))
    j = (
        grid.join(F.broadcast(rowm), "dow")
        .join(F.broadcast(colm), "hour")
        .crossJoin(F.broadcast(tot))
    )
    exp = F.col("nr") * F.col("nc") / F.col("nt").cast("double")
    return j.select(
        "dow",
        "hour",
        "n",
        F.round(exp, 6).alias("expected"),
        F.round((F.col("n") - exp) * (F.col("n") - exp) / exp, 6).alias(
            "chi2_cell"
        ),
    )


def bhattacharyya_overlap(
    df: DataFrame,
    group: Column | str,
    value: str,
    bin_width: float = 50.0,
) -> DataFrame:
    """Two-distribution histogram overlap on a fixed-width bin grid:
    Bhattacharyya coefficient BC = Σ √(pᵢ·qᵢ), distance −ln BC, and the
    Hellinger distance √(1 − BC) — the drift measure that rewards
    OVERLAP rather than penalizing displacement (PSI explodes on empty
    bins, KS only sees the worst single quantile; BC degrades smoothly
    and is symmetric). `group` must be boolean-like: TRUE = p side.

    ONE binned grid aggregate over the rows (map-side combinable,
    |bins| output rows), then closed form on the grid. Bins with mass
    on only one side contribute 0 to BC exactly — no smoothing is
    silently applied.

    Output: one row (n_p, n_q bigint, n_bins bigint, bc r6,
    b_dist r6, hellinger r6).
    """
    g = group if not isinstance(group, str) else F.col(group)
    base = df.filter(g.isNotNull() & F.col(value).isNotNull()).select(
        g.cast("boolean").alias("__g"),
        F.floor(F.col(value) / bin_width).cast("long").alias("__b"),
    )
    grid = base.groupBy("__b").agg(
        F.sum(F.col("__g").cast("long")).alias("np_"),
        F.sum((~F.col("__g")).cast("long")).alias("nq_"),
    )
    tot = grid.groupBy().agg(
        F.sum("np_").alias("tp"), F.sum("nq_").alias("tq"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
    j = grid.crossJoin(F.broadcast(tot))
    bc_term = F.sqrt(
        (F.col("np_") / F.col("tp").cast("double"))
        * (F.col("nq_") / F.col("tq").cast("double"))
    )
    out = j.groupBy().agg(
        F.first("tp").cast("long").alias("n_p"),
        F.first("tq").cast("long").alias("n_q"),
        F.first("n_bins").alias("n_bins"),
        F.sum(bc_term).alias("bc"),
    )
    return out.select(
        "n_p", "n_q", "n_bins",
        F.round("bc", 6).alias("bc"),
        F.round(-F.log(F.col("bc")), 6).alias("b_dist"),
        F.round(F.sqrt(1.0 - F.least(F.col("bc"), F.lit(1.0))), 6).alias(
            "hellinger"
        ),
    )


def pareto_share(
    df: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Concentration audit: what share of all events do the top 10% /
    20% of keys produce (the "80/20" number), plus the exact count
    cutoffs. The single-row executive complement to stats_gini's
    curve-shaped output.

    The raw rows collapse to per-key counts first (the only data-sized
    shuffle). At 100 TB keys = users = billions, so the rank + running
    sum must NOT be an unpartitioned window: this uses the same
    two-phase range-partitioned global-rank shape as stats_gini /
    _fdr_ranked — range-partition the per-key frame on the sort key,
    LOCAL row_number + running sum per partition, broadcast the P
    per-partition (count, sum) subtotals back as rank/cum offsets.
    n_keys / n_total fall out of those same P driver scalars, so no
    extra pass. Ties broken by key id so both engines cut the same
    cohort. Checkpoint BEFORE deriving offsets: repartitionByRange
    samples boundaries per job (the partition_offsets contract).

    Output: one row (n_keys bigint, n_total bigint, top10_share r6,
    top20_share r6).
    """
    per = (
        df.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    d = (
        per.repartitionByRange(F.col("n").desc(), F.col(key).asc())
        .sortWithinPartitions(F.col("n").desc(), F.col(key).asc())
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    subs = {
        r["__pid"]: (r["c"], r["s"])
        for r in d.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("n").alias("s"))
        .collect()
    }
    offs, racc, cacc = [], 0, 0
    for pid in range(max(subs, default=-1) + 1):
        offs.append((pid, racc, cacc))
        c, s = subs.get(pid, (0, 0))
        racc += c
        cacc += int(s or 0)
    n_keys, n_total = racc, cacc
    off = d.sparkSession.createDataFrame(
        offs or [(0, 0, 0)], "__pid int, __roff long, __coff long"
    )
    wloc = Window.partitionBy("__pid").orderBy(
        F.col("n").desc(), F.col(key).asc()
    )
    ranked = d.join(F.broadcast(off), "__pid").select(
        (F.row_number().over(wloc) + F.col("__roff")).alias("r"),
        (
            F.sum("n").over(
                wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            + F.col("__coff")
        ).alias("cum"),
    )
    # same cutoff arithmetic as the pre-rewrite Spark plan: IEEE-double
    # product then ceil (Python floats ARE Spark doubles, bit-for-bit)
    k10 = math.ceil(n_keys * 0.1)
    k20 = math.ceil(n_keys * 0.2)
    out = ranked.groupBy().agg(
        F.max(F.when(F.col("r") == F.lit(k10), F.col("cum"))).alias("c10"),
        F.max(F.when(F.col("r") == F.lit(k20), F.col("cum"))).alias("c20"),
    )
    return out.select(
        F.lit(n_keys).cast("long").alias("n_keys"),
        F.lit(n_total).cast("long").alias("n_total"),
        F.round(F.col("c10") / F.lit(n_total).cast("double"), 6).alias(
            "top10_share"
        ),
        F.round(F.col("c20") / F.lit(n_total).cast("double"), 6).alias(
            "top20_share"
        ),
    )


def poisson_rate_test(
    df: DataFrame,
    split_ms: int,
    kind_value: str = "error",
    kind: str = "event_type",
    ts: str = "timestamp",
) -> DataFrame:
    """Two-period Poisson rate comparison for one event kind: counts and
    exposures before/after `split_ms`, the rate ratio, and the normal-
    approximation z for H₀: equal rates (z = (r₁−r₂)/√(k₁/t₁² + k₂/t₂²))
    — "did the error rate actually change after the deploy?" with the
    exposure windows measured from the data itself (min/max ts per
    side), not assumed equal.

    ONE conditional aggregate computes both sides' counts and exposure
    bounds; everything after is closed form on a single row.

    Output: one row (k1, k2 bigint, t1_ms, t2_ms bigint, rate1 r6,
    rate2 r6 [per hour], rate_ratio r6, z r6).
    """
    base = df.filter(F.col(ts).isNotNull()).select(
        (F.col(ts) < split_ms).alias("__pre"),
        F.col(ts).alias("__t"),
        (F.col(kind) == kind_value).cast("long").alias("__hit"),
    )
    g = base.groupBy().agg(
        F.sum(F.when(F.col("__pre"), F.col("__hit"))).alias("k1"),
        F.sum(F.when(~F.col("__pre"), F.col("__hit"))).alias("k2"),
        (F.max(F.when(F.col("__pre"), F.col("__t")))
         - F.min(F.when(F.col("__pre"), F.col("__t")))).alias("t1"),
        (F.max(F.when(~F.col("__pre"), F.col("__t")))
         - F.min(F.when(~F.col("__pre"), F.col("__t")))).alias("t2"),
    )
    hour = 3_600_000.0
    r1 = F.try_divide(F.col("k1").cast("double"), F.col("t1") / hour)
    r2 = F.try_divide(F.col("k2").cast("double"), F.col("t2") / hour)
    var = (
        F.try_divide(F.col("k1").cast("double"), (F.col("t1") / hour) * (F.col("t1") / hour))
        + F.try_divide(F.col("k2").cast("double"), (F.col("t2") / hour) * (F.col("t2") / hour))
    )
    return g.select(
        F.col("k1").cast("long").alias("k1"),
        F.col("k2").cast("long").alias("k2"),
        F.col("t1").cast("long").alias("t1_ms"),
        F.col("t2").cast("long").alias("t2_ms"),
        F.round(r1, 6).alias("rate1"),
        F.round(r2, 6).alias("rate2"),
        F.round(F.try_divide(r1, r2), 6).alias("rate_ratio"),
        F.round(F.try_divide(r1 - r2, F.sqrt(var)), 6).alias("z"),
    )


def bartlett_test(
    df: DataFrame, part: str, value: str
) -> DataFrame:
    """Bartlett's test of equal variances across k groups: χ² =
    ((N−k)·ln s²_p − Σ(nᵢ−1)·ln s²ᵢ) / C with the small-sample
    correction C = 1 + (Σ1/(nᵢ−1) − 1/(N−k)) / (3(k−1)) — the
    parametric (normality-assuming, more powerful) sibling of the
    already-present Brown-Forsythe/Levene; run both: agreement says
    heteroscedasticity, disagreement says heavy tails.

    ONE per-group sufficient-sums aggregate, then a k-row combine —
    no row crosses the wire twice. Groups with nᵢ < 2 are excluded
    (their sample variance is undefined), matching the textbook
    definition.

    Output: one row (k int, n bigint, pooled_var r6, chi2 r6).
    """
    base = df.filter(
        F.col(part).isNotNull() & F.col(value).isNotNull()
    ).select(F.col(part).alias("g"), F.col(value).cast("double").alias("x"))
    per = (
        base.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("double").alias("ni"),
            F.var_samp("x").alias("vi"),
        )
        .filter(F.col("ni") >= 2)
    )
    g = per.groupBy().agg(
        F.count(F.lit(1)).cast("int").alias("k"),
        F.sum("ni").alias("nn"),
        F.sum((F.col("ni") - 1) * F.col("vi")).alias("ssw"),
        F.sum((F.col("ni") - 1) * F.log("vi")).alias("slog"),
        F.sum(1.0 / (F.col("ni") - 1)).alias("sinv"),
    )
    nk = F.col("nn") - F.col("k")
    sp2 = F.try_divide(F.col("ssw"), nk)
    c = 1.0 + F.try_divide(
        F.col("sinv") - 1.0 / nk, 3.0 * (F.col("k") - 1)
    )
    chi2 = F.try_divide(nk * F.log(sp2) - F.col("slog"), c)
    return g.select(
        "k",
        F.col("nn").cast("long").alias("n"),
        F.round(sp2, 6).alias("pooled_var"),
        F.round(chi2, 6).alias("chi2"),
    )


def ab_srm_check(
    df: DataFrame, key: str = "user_id", arms: int = 2
) -> DataFrame:
    """Sample-ratio-mismatch check for a hash-based A/B assignment:
    bucket every distinct key with the engine's deterministic
    multiplicative hash, compare the arm counts against the uniform
    expectation with χ²(arms−1) — the first thing to check before
    reading ANY experiment metric (an SRM means the assignment or
    logging is broken and every downstream lift number is garbage).

    One distinct-key aggregate (the only data-sized work), then an
    arms-row combine. The hash ((key·2654435761) mod 2³² mod arms) is
    the same split-leakage family hash, identical on both engines.

    Output: one row (n_keys bigint, n_a bigint, n_b bigint, share_a r6,
    chi2 r6) for arms=2 (the general-arms grid is the `grid` frame).
    """
    keys = (
        df.filter(F.col(key).isNotNull())
        .select(key)
        .distinct()
        .select(
            F.pmod(
                F.pmod(F.col(key) * F.lit(2654435761), F.lit(4294967296)),
                F.lit(arms),
            ).cast("int").alias("arm")
        )
    )
    grid = keys.groupBy("arm").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = grid.groupBy().agg(F.sum("n").alias("nn"))
    j = grid.crossJoin(F.broadcast(tot))
    e = F.col("nn") / float(arms)
    chi = j.groupBy().agg(
        F.first("nn").alias("nn"),
        F.sum((F.col("n") - e) * (F.col("n") - e) / e).alias("chi2"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
    )
    return chi.select(
        F.col("nn").cast("long").alias("n_keys"),
        F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        F.round(F.col("n_a") / F.col("nn").cast("double"), 6).alias("share_a"),
        F.round("chi2", 6).alias("chi2"),
    )


def funnel_step_timing(
    df: DataFrame,
    steps: list[str],
    user: str = "user_id",
    kind: str = "event_type",
    ts: str = "timestamp",
) -> DataFrame:
    """Time-between-funnel-steps distribution: for each adjacent step
    pair (sᵢ → sᵢ₊₁), the latency from a user's FIRST sᵢ to their first
    sᵢ₊₁ at-or-after it — funnel counts say WHERE users drop,
    step timing says where they stall (the p90 is the queue alarm).

    ONE conditional-min aggregate per user computes every step anchor
    simultaneously (no join per step, no window over raw events); the
    adjacent-pair latencies then percentile over the |users| frame.

    Output: (step_from, step_to, n_users bigint, p50_ms r6, p90_ms r6,
    mean_ms r6) — one row per adjacent pair, pairs ordered as given.
    """
    aggs = [
        F.min(F.when(F.col(kind) == s, F.col(ts))).alias(f"t{i}")
        for i, s in enumerate(steps)
    ]
    per = df.filter(F.col(user).isNotNull() & F.col(ts).isNotNull()).groupBy(
        user
    ).agg(*aggs)
    outs = []
    for i in range(len(steps) - 1):
        # first s_{i+1} at-or-after first s_i: with per-user FIRST
        # anchors, the pair qualifies iff t_{i+1} >= t_i... except a
        # user may reach s_{i+1} again later; the anchor convention
        # (first-to-first, ordered) is the standard funnel-timing read
        lat = (F.col(f"t{i + 1}") - F.col(f"t{i}")).cast("double")
        stage = per.filter(
            F.col(f"t{i}").isNotNull()
            & F.col(f"t{i + 1}").isNotNull()
            & (F.col(f"t{i + 1}") >= F.col(f"t{i}"))
        ).select(lat.alias("lat"))
        outs.append(
            stage.groupBy().agg(
                F.lit(steps[i]).alias("step_from"),
                F.lit(steps[i + 1]).alias("step_to"),
                F.count(F.lit(1)).cast("long").alias("n_users"),
                F.round(F.expr("percentile(lat, 0.5)"), 6).alias("p50_ms"),
                F.round(F.expr("percentile(lat, 0.9)"), 6).alias("p90_ms"),
                F.round(F.avg("lat"), 6).alias("mean_ms"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def tost_equivalence(
    df: DataFrame,
    group: Column | str,
    value: str,
    margin: float,
) -> DataFrame:
    """Two one-sided tests (TOST) for mean EQUIVALENCE within ±margin:
    t_low tests μ₁−μ₂ > −Δ, t_high tests μ₁−μ₂ < +Δ, both on the Welch
    statistic with Welch-Satterthwaite df — the right tool when the
    question is "are these the same?", where a non-significant t-test is
    NOT evidence of equivalence (absence of evidence ≠ evidence of
    absence). Equivalence is claimed when BOTH t statistics clear their
    one-sided critical value; the statistics and df are the distributed
    part, the critical value a constant lookup.

    One sum/sumsq aggregate over both groups (the welch_ttest plan).
    `group` boolean-like: TRUE = group 1.

    Output: one row (n1, n2 bigint, mean_diff r6, se r6, df r6,
    t_low r6, t_high r6).
    """
    g = group if not isinstance(group, str) else F.col(group)
    base = df.filter(g.isNotNull() & F.col(value).isNotNull()).select(
        g.cast("boolean").alias("__g"),
        F.col(value).cast("double").alias("__x"),
    )
    agg = base.groupBy().agg(
        F.sum(F.col("__g").cast("long")).alias("n1"),
        F.sum((~F.col("__g")).cast("long")).alias("n2"),
        F.sum(F.when(F.col("__g"), F.col("__x"))).alias("s1"),
        F.sum(F.when(~F.col("__g"), F.col("__x"))).alias("s2"),
        F.sum(F.when(F.col("__g"), F.col("__x") * F.col("__x"))).alias("q1"),
        F.sum(F.when(~F.col("__g"), F.col("__x") * F.col("__x"))).alias("q2"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    m1 = F.col("s1") / n1
    m2 = F.col("s2") / n2
    v1 = (F.col("q1") - F.col("s1") * m1) / (n1 - 1)
    v2 = (F.col("q2") - F.col("s2") * m2) / (n2 - 1)
    a1, a2 = v1 / n1, v2 / n2
    se = F.sqrt(a1 + a2)
    dfree = F.try_divide(
        (a1 + a2) * (a1 + a2),
        a1 * a1 / (n1 - 1) + a2 * a2 / (n2 - 1),
    )
    diff = m1 - m2
    return agg.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(diff, 6).alias("mean_diff"),
        F.round(se, 6).alias("se"),
        F.round(dfree, 6).alias("df"),
        F.round(F.try_divide(diff + margin, se), 6).alias("t_low"),
        F.round(F.try_divide(diff - margin, se), 6).alias("t_high"),
    )


def new_vs_returning(
    df: DataFrame,
    user: str = "user_id",
    ts: str = "timestamp",
    bucket_ms: int = 86_400_000,
) -> DataFrame:
    """Per-day new-vs-returning active-user split: a user is NEW on
    their first-ever bucket and RETURNING on every later active bucket —
    the composition read under every DAU curve (flat DAU can hide a
    leaky bucket: all-new means churn is eating growth).

    Rows collapse to distinct (user, bucket) first (one map-side-
    combinable aggregate); first-seen comes from a per-user min on that
    frame — the window never touches raw events.

    Output: (bucket_start bigint, n_active bigint, n_new bigint,
    n_returning bigint, new_share r6).
    """
    ub = (
        df.filter(F.col(user).isNotNull() & F.col(ts).isNotNull())
        .select(
            F.col(user).alias("u"),
            F.expr(f"({ts} div {bucket_ms}) * {bucket_ms}")
            .cast("long")
            .alias("b"),
        )
        .distinct()
    )
    first = ub.groupBy("u").agg(F.min("b").alias("fb"))
    j = ub.join(first, "u")
    out = j.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.sum((F.col("b") == F.col("fb")).cast("long")).cast("long").alias("n_new"),
    )
    return out.select(
        F.col("b").alias("bucket_start"),
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).cast("long").alias("n_returning"),
        F.round(F.col("n_new") / F.col("n_active").cast("double"), 6).alias(
            "new_share"
        ),
    )


def fdr_bh(
    df: DataFrame, value: str, group: str, q: float = 0.10
) -> DataFrame:
    """Benjamini-Hochberg FDR over one-vs-rest Welch z-tests (valid for
    independent / positively-dependent tests): reject ranks i with
    p_(i) <= i/m*q. Shared machinery in _fdr_ranked."""
    return _fdr_ranked(df, value, group, q, mode="bh")


def fdr_by(
    df: DataFrame, value: str, group: str, q: float = 0.10
) -> DataFrame:
    """Benjamini-Yekutieli FDR — BH's arbitrary-dependence-safe variant:
    the threshold divides by the harmonic number c(m) = sum_{i<=m} 1/i
    (Benjamini & Yekutieli 2001), so it holds under ANY dependence
    structure among the per-segment tests (overlapping cohorts, shared
    seasonality) at the price of conservatism. Same scale-safe two-phase
    rank as fdr_bh; c(m) is an ascending fold over sequence(1, m) so the
    double accumulation order is engine-reproducible."""
    return _fdr_ranked(df, value, group, q, mode="by")


def holm_bonferroni(
    df: DataFrame, value: str, group: str, alpha: float = 0.05
) -> DataFrame:
    """Holm-Bonferroni step-down FWER control over the same one-vs-rest
    Welch z family: ascending thresholds alpha/(m - i + 1); testing
    stops at the FIRST rank whose p exceeds its threshold — every
    earlier rank is rejected, everything from the stop rank on
    (including NULL-p 1-row groups) survives. Controls the FAMILYWISE
    error rate (stronger than the FDR procedures) with uniformly more
    power than plain Bonferroni. Same scale-safe two-phase rank; the
    stop rank is a 1-row min aggregate broadcast back."""
    return _fdr_ranked(df, value, group, alpha, mode="holm")


def _fdr_ranked(
    df: DataFrame, value: str, group: str, q: float, mode: str
) -> DataFrame:
    """One-vs-rest Welch z-test per group + multiple-testing control
    (mode: "bh" / "by" FDR, "holm" step-down FWER) — the discipline for "which
    segments moved?" dashboards: testing k segments at α each inflates
    false positives; the procedure bounds the expected false-discovery
    fraction at q.

    Per group g: Welch z for mean(value | g) vs mean(value | not g), the
    rest-side moments derived from (global − group) totals so ONE
    map-side-combinable aggregate covers every test. Two-sided p via the
    logistic approximation p = 2/(1+exp(1.702·|z|)) (documented: both
    engines mirror the same closed form; max abs error vs Φ ≈ 0.01).
    BH: rank p ascending (group tie-break), reject ranks ≤ argmax{i :
    p_(i) ≤ i/m·q}.

    Scale shape: the scan collapses to k = |groups| rows, but k itself
    can be huge (per-user tests ⇒ 10⁷–10⁸ hypotheses at 100 TB), so the
    BH rank must NOT be an unpartitioned window. Same two-phase
    global-rank shape as _two_sample_cum_frame / packing
    .partition_offsets: range-partition the scored frame on the sort
    key (with an explicit null-flag so NULL p ranks LAST on both
    engines), LOCAL row_number per partition, broadcast the P
    per-partition counts as rank offsets. kmax (the largest rejected
    rank) is a plain 1-row aggregate broadcast-joined back — the only
    single-partition exchange in the plan.
    """
    per = (
        df.filter(F.col(value).isNotNull())
        .groupBy(group)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value).cast("double")).alias("s"),
            F.sum(F.col(value).cast("double") * F.col(value)).alias("ss"),
        )
    )
    tot = per.agg(
        F.sum("n").alias("tn"), F.sum("s").alias("ts"), F.sum("ss").alias("tss"),
        F.count(F.lit(1)).alias("m"),
    )
    if mode == "by":
        # BY's c(m): ascending fold 1 + 1/2 + ... + 1/m — the SAME
        # accumulation order as the oracle's recursive CTE, so the
        # doubles agree bit-for-bit across engines. Folded ONCE on this
        # 1-row frame (m can be 10⁷–10⁸ hypotheses at scale; folding the
        # m-element sequence per output row would materialize an O(m)
        # array on every row — the scale hazard ADVICE r7 flagged), then
        # carried through the broadcast crossJoin like the other totals.
        tot = tot.withColumn(
            "__cm",
            F.aggregate(
                F.sequence(F.lit(1), F.col("m").cast("int")),
                F.lit(0.0),
                lambda acc, i: acc + F.lit(1.0) / i.cast("double"),
            ),
        )
    j = per.crossJoin(F.broadcast(tot))
    n1, s1, ss1 = F.col("n"), F.col("s"), F.col("ss")
    n0 = F.col("tn") - n1
    s0 = F.col("ts") - s1
    ss0 = F.col("tss") - ss1
    m1 = s1 / n1
    m0 = F.try_divide(s0, n0)
    v1 = F.try_divide(ss1 - s1 * s1 / n1, n1 - 1)
    v0 = F.try_divide(ss0 - s0 * s0 / n0, n0 - 1)
    z = F.try_divide(m1 - m0, F.sqrt(v1 / n1 + v0 / n0))
    p = 2.0 / (1.0 + F.exp(1.702 * F.abs(z)))
    scored_cols = [
        F.col(group), F.col("n").cast("long").alias("n"),
        F.col("m").cast("long").alias("m"), z.alias("__z"), p.alias("__p"),
    ]
    if mode == "by":
        scored_cols.append(F.col("__cm"))
    scored = j.select(*scored_cols)
    # NULL p (a 1-row group: variance undefined) must sort LAST on both
    # engines — range partitioning and the local sort both order the
    # explicit __pnull flag first (false < true), matching DuckDB's ASC
    # NULLS LAST; a NULL p can never satisfy p <= threshold, so it is
    # never rejected. checkpoint BEFORE deriving offsets:
    # repartitionByRange samples boundaries per job (the
    # partition_offsets contract).
    d = (
        scored.withColumn("__pnull", F.col("__p").isNull())
        .repartitionByRange("__pnull", "__p", group)
        .sortWithinPartitions("__pnull", "__p", group)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wloc = Window.partitionBy("__pid").orderBy(
        "__pnull", F.col("__p").asc(), F.col(group).asc()
    )
    counts = {
        r["__pid"]: r["c"]
        for r in d.groupBy("__pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offs, acc = [], 0
    for pid in range(max(counts, default=-1) + 1):
        offs.append((pid, acc))
        acc += counts.get(pid, 0)
    off = d.sparkSession.createDataFrame(
        offs or [(0, 0)], "__pid int, __off long"
    )
    ranked = (
        d.join(F.broadcast(off), "__pid")
        .withColumn(
            "p_rank",
            (F.row_number().over(wloc) + F.col("__off")).cast("int"),
        )
        .withColumn(
            "__thr",
            F.col("p_rank") / (F.col("m") * F.col("__cm")) * F.lit(q)
            if mode == "by"
            else F.lit(q) / (F.col("m") - F.col("p_rank") + 1)
            if mode == "holm"
            else F.col("p_rank") / F.col("m") * F.lit(q),
        )
    )
    if mode == "holm":
        # step-down: the first failing rank (NULL p fails by definition)
        # stops the procedure; everything before it is rejected
        kfail = ranked.agg(
            F.min(
                F.when(
                    F.col("__p").isNull() | (F.col("__p") > F.col("__thr")),
                    F.col("p_rank"),
                )
            ).alias("__kstop")
        )
        out = ranked.crossJoin(F.broadcast(kfail))
        rejected = F.col("p_rank") < F.coalesce(
            F.col("__kstop"), F.col("m") + 1
        )
    else:
        # step-up: the LARGEST passing rank rejects itself and everything
        # below it
        kmax = ranked.agg(
            F.max(
                F.when(F.col("__p") <= F.col("__thr"), F.col("p_rank"))
            ).alias("__kmax")
        )
        out = ranked.crossJoin(F.broadcast(kmax))
        rejected = F.col("p_rank") <= F.coalesce(F.col("__kmax"), F.lit(0))
    return out.select(
        group,
        "n",
        F.round("__z", 6).alias("z"),
        F.round("__p", 6).alias("p_value"),
        "p_rank",
        F.round("__thr", 6).alias(
            {"bh": "bh_threshold", "by": "by_threshold",
             "holm": "holm_threshold"}[mode]
        ),
        rejected.alias("rejected"),
    ).orderBy("p_rank")


def page_trend(
    df: DataFrame,
    part: str = "event_type",
    ts: str = "timestamp",
    day_ms: int = 86_400_000,
) -> DataFrame:
    """Page's L test for ordered alternatives in a two-way layout: does
    activity rise monotonically across the k treatments (`part` values,
    hypothesized order = lexicographic id), consistently over the b
    blocks (UTC days)? More powerful than Friedman when the alternative
    is a TREND, not just "some difference". The ranked measure is the
    per-cell event COUNT — an exact integer, so both engines rank
    identically (a double mean could flip near-ties across engines'
    summation orders); ties broken by treatment id.

    Only COMPLETE blocks (all k treatments present) enter — Page's test
    is defined on complete layouts; partial days would skew the ranks.
    L = Σ_j j·R_j; under H₀ E[L] = b·k·(k+1)²/4,
    Var[L] = b·k²·(k+1)·(k²−1)/144, z = (L−E)/√Var.

    ONE (day, part) count aggregate collapses the scan to a calendar-
    bounded b×k grid (checkpointed: every later frame derives from it
    without re-scanning); the day-partitioned rank window rides one hash
    exchange, and the only global sort is the k-row treatment-position
    frame (k = |treatments|, small by contract — same k-row exemption as
    the alert/centroid frames).

    Output: one row (b bigint, k int, l_stat bigint, z r6).
    """
    cell = (
        df.filter(F.col(part).isNotNull() & F.col(ts).isNotNull())
        .groupBy(
            F.expr(f"`{ts}` div {day_ms}").alias("__d"),
            F.col(part).alias("__g"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        .localCheckpoint(eager=True)
    )
    ktot = cell.agg(F.countDistinct("__g").cast("int").alias("k"))
    daycnt = cell.groupBy("__d").agg(F.count(F.lit(1)).alias("__kc"))
    kept = (
        cell.join(F.broadcast(daycnt), "__d")
        .crossJoin(F.broadcast(ktot))
        .filter(F.col("__kc") == F.col("k"))
    )
    pos = (
        cell.select("__g")
        .distinct()
        .withColumn(
            "__j", F.row_number().over(Window.orderBy("__g")).cast("int")
        )
    )
    wd = Window.partitionBy("__d").orderBy(
        F.col("__n").asc(), F.col("__g").asc()
    )
    ranked = kept.withColumn("__r", F.row_number().over(wd)).join(
        F.broadcast(pos), "__g"
    )
    out = ranked.groupBy().agg(
        F.countDistinct("__d").cast("long").alias("b"),
        F.max("k").alias("k"),
        F.sum(F.col("__j").cast("long") * F.col("__r")).cast("long").alias(
            "l_stat"
        ),
    )
    b = F.col("b").cast("double")
    kk = F.col("k").cast("double")
    lv = F.col("l_stat").cast("double")
    mu = b * kk * (kk + 1.0) * (kk + 1.0) / 4.0
    var = b * kk * kk * (kk + 1.0) * (kk * kk - 1.0) / 144.0
    return out.select(
        "b", "k", "l_stat",
        F.round(F.try_divide(lv - mu, F.sqrt(var)), 6).alias("z"),
    )


def power_two_prop(
    df: DataFrame,
    success: Column,
    group: str,
    alpha_z: float = 1.959964,
    power_z: float = 0.841621,
) -> DataFrame:
    """Two-proportion sample-size planning per segment: for each group,
    the observed conversion rate vs the REST of the population, and the
    per-arm n required to detect that delta at α=0.05 (two-sided) with
    80% power — the "how long must this experiment run" table.

    n = (z_α/2·√(2·p̄(1−p̄)) + z_β·√(p₁(1−p₁)+p₀(1−p₀)))² / δ², z-values
    passed as literals so both engines share the exact constants.

    ONE conditional aggregate collapses the scan to k rows; rest-side
    rates derive from (global − group) totals.
    """
    per = df.groupBy(group).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(success.cast("long")).cast("double").alias("c"),
    )
    tot = per.agg(F.sum("n").alias("tn"), F.sum("c").alias("tc"))
    j = per.crossJoin(F.broadcast(tot))
    p1 = F.col("c") / F.col("n")
    p0 = (F.col("tc") - F.col("c")) / (F.col("tn") - F.col("n"))
    pbar = (F.col("c") + (F.col("tc") - F.col("c"))) / F.col("tn")  # = tc/tn
    delta = p1 - p0
    num = (
        F.lit(alpha_z) * F.sqrt(2.0 * pbar * (1.0 - pbar))
        + F.lit(power_z) * F.sqrt(p1 * (1.0 - p1) + p0 * (1.0 - p0))
    )
    n_req = F.try_divide(num * num, delta * delta)
    return j.select(
        F.col(group),
        F.col("n").cast("long").alias("n_obs"),
        F.round(p1, 6).alias("rate_group"),
        F.round(p0, 6).alias("rate_rest"),
        F.round(delta, 6).alias("delta"),
        F.ceil(n_req).cast("bigint").alias("n_required_per_arm"),
    ).orderBy(group)


def cohort_ltv(
    df: DataFrame,
    ts: str = "timestamp",
    user: str = "user_id",
    value: str = "value",
    bucket_ms: int = 604800000,
) -> DataFrame:
    """Signup-cohort LTV triangle: users grouped by their first-seen
    bucket (cohort); for each (cohort, weeks-since) cell, the period
    value and the cumulative value PER COHORT USER — the
    revenue-equivalent of the retention matrix, and the table a
    data-mix planner reads to weight fresh vs seasoned user data.

    Scale shape: events co-shuffle once on the user key against the
    per-user first-seen frame; cells collapse to ≤ cohorts × weeks rows;
    the cumulative window partitions by cohort over that bounded frame.
    """
    ev = df.filter(
        F.col(user).isNotNull() & F.col(ts).isNotNull()
    ).select(
        (F.col(ts) / bucket_ms).cast("long").alias("w"),
        F.col(user).alias("u"),
        F.col(value).cast("double").alias("v"),
    )
    first = ev.groupBy("u").agg(F.min("w").alias("cohort"))
    sizes = first.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    cells = (
        ev.join(first, "u")
        .groupBy("cohort", (F.col("w") - F.col("cohort")).alias("week_index"))
        .agg(F.sum("v").alias("pv"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("week_index")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "week_index",
            "cohort_users",
            F.round("pv", 3).alias("period_value"),
            F.round(
                F.sum("pv").over(w) / F.col("cohort_users"), 6
            ).alias("cum_value_per_user"),
        )
        .orderBy("cohort", "week_index")
    )


def rolling_active_users(
    df: DataFrame,
    ts: str = "timestamp",
    user: str = "user_id",
    window_days: int = 7,
) -> DataFrame:
    """Sliding window-active-users per day (WAU when window_days=7): for
    each calendar day, the count of distinct users seen in the trailing
    window. A rolling COUNT DISTINCT has no window-function form on
    either engine; the scalable shape is contribution fan-out — each
    distinct (user, day) pair contributes to the `window_days` days it
    keeps the user active in, then one distinct count per day. Shuffle
    volume: distinct pairs × window_days, linear in users — never a
    range join against raw events.

    Days outside the observed span are clipped (the spine is the data's
    own [min_day, max_day])."""
    day_ms = 86400000
    pairs = (
        df.filter(F.col(user).isNotNull() & F.col(ts).isNotNull())
        .select(
            (F.col(ts) / day_ms).cast("long").alias("day"),
            F.col(user).alias("u"),
        )
        .distinct()
    )
    span = pairs.groupBy().agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    contrib = (
        pairs.crossJoin(F.broadcast(span))
        .select(
            "u",
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.least(F.col("day") + window_days - 1, F.col("hi")),
                )
            ).alias("d"),
        )
        .distinct()
    )
    return (
        contrib.groupBy("d")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .select(F.col("d").alias("day"), "active_users")
        .orderBy("day")
    )
