"""scale registry entries — split from the monolithic entry_queries.py
(round 7). Same content, same order; aggregated by registry.__init__."""
from __future__ import annotations

from .common import (  # noqa: F401
    F, M, SHARD, _asof_events_orders, _docs, _nearest_events_orders,
    _round, _temporal_oracle, bucketed, joins, layout, rollup, skew,
    temporal_join, testdata,
)


def register(q):

    # --- scale utilities (result-identical to their plain counterparts) ---
    q["scale_salted_groupby_sum"] = lambda spark, sf: _round(
        skew.salted_groupby_agg(
            testdata.events_metric(spark, sf),
            ["event_type"],
            [("value", "sum", "sum_value")],
            salt_buckets=64,
        ),
        {"sum_value": 3},
    )
    q["scale_broadcast_join"] = lambda spark, sf: joins.revenue_by_part_type(
        testdata.table(spark, sf, "lineitem"), testdata.table(spark, sf, "part")
    )
    q["scale_bucketed_join"] = lambda spark, sf: bucketed.cohort_order_stats(
        spark,
        testdata.table(spark, sf, "orders"),
        testdata.table(spark, sf, "customer"),
    )

    # --- temporal joins (absent in the dialect; Spark-first extensions) ---
    q["join_asof_events_orders"] = _asof_events_orders

    def _asof_forward(spark, sf):
        # each order enriched with the customer's FIRST event at-or-after
        # the order time — the forward half of merge_asof semantics
        # (orders predate the event window, so every customer with events
        # gets a real match; the reverse direction would be all-NULL)
        ev_raw = testdata.table(spark, sf, "events")
        ev = ev_raw.select(
            testdata.ts_ms(ev_raw).alias("ts_ms"), "event_id", "user_id",
            "value",
        )
        orders = testdata.table(spark, sf, "orders").select(
            "o_custkey",
            F.expr(
                "unix_micros(cast(o_orderdate as timestamp)) div 1000"
            ).alias("ots"),
            "o_orderkey",
        )
        return temporal_join.asof_join(
            orders, ev, on=("o_custkey", "user_id"), ts=("ots", "ts_ms"),
            payload=["event_id", "value"],
            tie_break="event_id", direction="forward",
        ).select(
            "o_orderkey",
            "o_custkey",
            "ots",
            F.col("asof_event_id").alias("asof_event_id"),
            F.col("asof_value").alias("asof_value"),
        )

    q["join_asof_forward"] = _asof_forward
    # attribution window: per order, the user's events within 7 d AFTER
    # the order — prefix sums + two as-of probes, never a range join
    def _window_join(spark, sf):
        orders = testdata.table(spark, sf, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.expr("unix_micros(cast(o_orderdate as timestamp)) div 1000").alias("ots"),
        )
        ev_raw = testdata.table(spark, sf, "events")
        ev = ev_raw.select(
            testdata.ts_ms(ev_raw).alias("ts_ms"), "event_id", "user_id", "value"
        )
        out = temporal_join.window_agg_join(
            orders, ev, on=("o_custkey", "user_id"), ts=("ots", "ts_ms"),
            window_ms=604800000, value_col="value", right_id="event_id",
            n_alias="n_events", sum_alias="sum_value",
        )
        return out.select(
            "o_orderkey", "n_events", F.round("sum_value", 3).alias("sum_value")
        )

    q["join_window_orders_events"] = _window_join

    # --- pre-aggregated rollup path (facet-index analogue, SURVEY §4 r3):
    # result-identical to the raw temporal path, validated by the SAME
    # backward-aligned oracle as the direct queries ---
    q["rollup_temporal_sum"] = lambda spark, sf: _round(
        rollup.temporal_agg_via_rollup(
            spark, testdata.events_metric(spark, sf), fine_ms=86400000,
            coarse_ms=604800000, shard_ms=SHARD, agg="sum", alias="sum_value",
            bounds=testdata.events_bounds(sf),
        ),
        {"sum_value": 3},
    )
    q["rollup_temporal_avg"] = lambda spark, sf: _round(
        rollup.temporal_agg_via_rollup(
            spark, testdata.events_metric(spark, sf), fine_ms=43200000,
            coarse_ms=172800000, shard_ms=SHARD, agg="avg", alias="avg_value",
            bounds=testdata.events_bounds(sf),
        ),
        {"avg_value": 3},
    )

    def _hh(spark, sf):
        toks = _docs(spark, sf).select(
            F.explode(F.split("text", " ")).alias("token")
        )
        return skew.heavy_hitters(toks, "token", k=20, capacity=256)

    q["scale_heavy_hitters"] = _hh
    q["join_nearest_events_orders"] = _nearest_events_orders
    q["scale_join_chain"] = lambda spark, sf: joins.revenue_chain(
        testdata.table(spark, sf, "lineitem"),
        testdata.table(spark, sf, "orders"),
        testdata.table(spark, sf, "customer"),
    )
    # percentiles served from the MERGEABLE quantile rollup (fixed-grid
    # sketch partials; raw data touched only at build): t-digest-style
    # rollup path, merge invariance asserted in test_operators.py
    def _rollup_pct(spark, sf):
        ev = testdata.events_metric(spark, sf)
        r, _b, vr = rollup.build_quantile_rollup(
            ev, fine_ms=86400000, shard_ms=SHARD, nbins=256,
            bounds=testdata.events_bounds(sf),
            value_range=testdata.events_value_range(sf),
        )
        return rollup.percentiles_from_quantile_rollup(
            spark, r, [0.25, 0.5, 0.9, 0.99], vr, nbins=256
        )

    q["rollup_percentiles"] = _rollup_pct

    # temporal percentile riding the same sketch: per coarse bucket the
    # fine partials merge exactly, percentile reads off the merged
    # histogram — the GROUP BY INTERVAL shape for percentile-class aggs
    def _rollup_tpct(spark, sf):
        ev = testdata.events_metric(spark, sf)
        r, b, vr = rollup.build_quantile_rollup(
            ev, fine_ms=86400000, shard_ms=SHARD, nbins=256,
            bounds=testdata.events_bounds(sf),
            value_range=testdata.events_value_range(sf),
        )
        return rollup.temporal_percentile_from_quantile_rollup(
            spark, r, 0.9, b, fine_ms=86400000, coarse_ms=604800000,
            value_range=vr, nbins=256,
        )

    q["rollup_temporal_percentile"] = _rollup_tpct

    # per-group percentile from the group-keyed sketch (GROUP BY shape)
    def _rollup_gpct(spark, sf):
        ev = testdata.events_metric(spark, sf)
        r, vr = rollup.build_group_quantile_rollup(
            ev, "event_type", nbins=256, value_range=testdata.events_value_range(sf)
        )
        return rollup.group_percentiles_from_quantile_rollup(
            r, "event_type", 0.9, vr, nbins=256
        )

    q["rollup_group_percentile"] = _rollup_gpct

    # count-distinct from the linear-counting bitmap rollup — the one
    # aggregate plain rollups can't serve (set sizes don't add); LC
    # partials union-merge exactly and the estimate is deterministic
    def _rollup_tcd(spark, sf):
        ev = testdata.events_metric(spark, sf)
        r, b = rollup.build_distinct_rollup(
            ev, "user_id", fine_ms=86400000, shard_ms=SHARD, m_buckets=4096,
            bounds=testdata.events_bounds(sf),
        )
        return rollup.temporal_count_distinct_from_rollup(
            spark, r, b, fine_ms=86400000, coarse_ms=604800000, m_buckets=4096
        )

    q["rollup_temporal_count_distinct"] = _rollup_tcd

    def _rollup_thll(spark, sf):
        # HLL registers: never saturate (LC answers NULL past ~M distinct
        # per bucket) — the 100 TB default for unbounded cardinalities
        ev = testdata.events_metric(spark, sf)
        r, b = rollup.build_hll_rollup(
            ev, "user_id", fine_ms=86400000, shard_ms=SHARD, p=10,
            bounds=testdata.events_bounds(sf),
        )
        return rollup.temporal_hll_from_rollup(
            spark, r, b, fine_ms=86400000, coarse_ms=604800000, p=10
        )

    q["rollup_temporal_hll"] = _rollup_thll

    def _rollup_ttopk(spark, sf):
        # trending items per window, served from mergeable counts
        ev = testdata.events_metric(spark, sf)
        r, b = rollup.build_group_temporal_rollup(
            ev, "event_type", fine_ms=86400000, shard_ms=SHARD,
            bounds=testdata.events_bounds(sf),
        )
        return rollup.temporal_topk_from_rollup(
            spark, r, b, fine_ms=86400000, coarse_ms=604800000, n_top=3
        )

    q["rollup_temporal_topk"] = _rollup_ttopk

    def _rollup_gcd(spark, sf):
        ev = testdata.events_metric(spark, sf)
        r = rollup.build_group_distinct_rollup(
            ev, "event_type", "user_id", m_buckets=4096
        )
        return rollup.group_count_distinct_from_rollup(r, "event_type", 4096)

    q["rollup_group_count_distinct"] = _rollup_gcd
    q["scale_zorder_key"] = lambda spark, sf: testdata.events_metric(spark, sf).select(
        "event_id",
        layout.zorder_key(
            [F.col("user_id") % 256, F.floor("value").cast("long") % 256], bits=8
        ),
    )

    def _interval_join(spark, sf):
        # variable-length interval per lineitem (transit window =
        # l_quantity days after shipment); count urgent orders placed
        # inside each returned lineitem's window. 1-day cells ≈ median
        # span/25 would over-replicate; 7-day cells keep replication
        # at span/7+1 ≈ 4x on the filtered interval side only.
        li = testdata.table(spark, sf, "lineitem").filter(
            F.col("l_returnflag") == "R"
        ).select(
            "l_orderkey",
            "l_linenumber",
            F.expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000").alias("start_d"),
            (
                F.expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
                + F.col("l_quantity").cast("long")
            ).alias("end_d"),
        )
        od = testdata.table(spark, sf, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select(
            F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").alias("pt_d")
        )
        return (
            temporal_join.interval_join(od, li, "pt_d", "start_d", "end_d", bucket=7)
            .groupBy("l_orderkey", "l_linenumber")
            .agg(F.count(F.lit(1)).alias("n_urgent_orders"))
        )

    q["join_interval_lineitem_orders"] = _interval_join
    q["join_band_prices"] = lambda spark, sf: joins.band_self_count(
        testdata.table(spark, sf, "orders"),
        id_col="o_orderkey", x="o_totalprice", delta=100.0,
    )
    q["rollup_temporal_skew"] = lambda spark, sf: rollup.temporal_skew_via_rollup(
        spark, testdata.events_metric(spark, sf), fine_ms=86400000,
        coarse_ms=604800000, shard_ms=SHARD,
    )
    q["rollup_group_skew"] = lambda spark, sf: rollup.group_skew_from_moment_rollup(
        rollup.build_group_moment_rollup(
            testdata.events_metric(spark, sf), "event_type"
        ),
        "event_type",
    )
    q["scale_salted_join"] = lambda spark, sf: skew.salted_join(
        testdata.table(spark, sf, "events").select(
            "event_id", "user_id", "value"
        ),
        testdata.table(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(F.round(F.sum("o_totalprice"), 3).alias("cust_total")),
        key="user_id", salt_buckets=8, salt_on="event_id",
    ).select("event_id", "user_id", "value", "cust_total")


def register_oracles(o):
    # bucketed interval join ≡ the BETWEEN theta join relationally
    # (DuckDB plans it as its IEJoin; Spark would nested-loop, hence the
    # cell rewrite on our side)
    o["join_interval_lineitem_orders"] = """
WITH li AS (SELECT l_orderkey, l_linenumber,
            cast(epoch(l_shipdate) // 86400 AS bigint) AS start_d,
            cast(epoch(l_shipdate) // 86400 AS bigint)
              + cast(l_quantity AS bigint) AS end_d
            FROM lineitem WHERE l_returnflag = 'R'),
od AS (SELECT cast(epoch(o_orderdate) // 86400 AS bigint) AS pt_d
       FROM orders WHERE o_orderpriority = '1-URGENT')
SELECT l_orderkey, l_linenumber, count(*) AS n_urgent_orders
FROM li JOIN od ON od.pt_d BETWEEN li.start_d AND li.end_d
GROUP BY 1, 2
"""
    # DuckDB plans the abs() range predicate as an IEJoin; the Spark
    # side is the bucketed rewrite — same pair set by construction
    o["join_band_prices"] = """
SELECT a.o_orderkey, a.o_totalprice,
       cast(count(*) - 1 AS bigint) AS n_within
FROM orders a JOIN orders b
  ON abs(b.o_totalprice - a.o_totalprice) <= 100
WHERE a.o_orderkey IS NOT NULL AND a.o_totalprice IS NOT NULL
GROUP BY 1, 2
"""
    # group sibling of rollup_temporal_skew: same standardized-moment
    # closed form off per-group power sums
    o["rollup_group_skew"] = f"""
{M},
r AS (SELECT event_type AS g, cast(count(*) AS bigint) AS cnt,
             sum(value) AS s1, sum(value*value) AS s2,
             sum(value*value*value) AS s3,
             sum(value*value*value*value) AS s4
      FROM m WHERE event_type IS NOT NULL GROUP BY 1),
x AS (SELECT g, cnt, s1 / cnt AS mu,
             s2 / cnt - (s1 / cnt) * (s1 / cnt) AS m2,
             s3 / cnt - 3.0 * (s1 / cnt) * (s2 / cnt)
               + 2.0 * (s1 / cnt) * (s1 / cnt) * (s1 / cnt) AS m3,
             s4 / cnt - 4.0 * (s1 / cnt) * (s3 / cnt)
               + 6.0 * (s1 / cnt) * (s1 / cnt) * (s2 / cnt)
               - 3.0 * (s1 / cnt) * (s1 / cnt) * (s1 / cnt) * (s1 / cnt)
               AS m4
      FROM r)
SELECT g AS event_type, cnt AS n_value, round(mu, 6) AS mean,
       round(m3 / sqrt(m2 * m2 * m2), 6) AS skewness,
       round(m4 / (m2 * m2) - 3.0, 6) AS ex_kurtosis
FROM x
"""
    # salted two-phase aggregation is result-identical to the plain groupBy
    o["scale_salted_groupby_sum"] = o["nsdb_groupby_sum"]
    o["scale_bucketed_join"] = """
SELECT c_mktsegment,
       count(*) AS n_orders,
       cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       count(DISTINCT o_custkey) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""
    o["scale_broadcast_join"] = """
SELECT p_type,
       cast(sum(cast(l_extendedprice AS DECIMAL(18,2)) *
                (1 - cast(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type
"""
    # ASOF JOIN is DuckDB-native; ties on (custkey, orderdate) are pinned to
    # the max orderkey on both sides (asof_join tie_break) for determinism
    o["join_asof_events_orders"] = """
WITH r AS (
  SELECT o_custkey, epoch_ms(o_orderdate) AS ots,
         max(o_orderkey) AS o_orderkey,
         arg_max(o_totalprice, o_orderkey) AS o_totalprice
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms,
       r.o_orderkey AS asof_orderkey, r.o_totalprice AS asof_totalprice
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.o_custkey AND epoch_ms(e.ts) >= r.ots
"""
    o["join_asof_forward"] = """
WITH r AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms,
         max(event_id) AS event_id,
         arg_max(value, event_id) AS value
  FROM events GROUP BY 1, 2
)
SELECT o.o_orderkey, o.o_custkey, epoch_ms(o.o_orderdate) AS ots,
       r.event_id AS asof_event_id, r.value AS asof_value
FROM orders o ASOF LEFT JOIN r
  ON o.o_custkey = r.user_id AND epoch_ms(o.o_orderdate) <= r.ts_ms
"""
    # direct range join is fine as the ORACLE (row counts exact; the
    # value sum differs from the cumulative-difference path only by FP
    # noise orders of magnitude under the round-3 grid at this SF)
    o["join_window_orders_events"] = """
SELECT o.o_orderkey AS o_orderkey,
       count(e.ts) AS n_events,
       round(coalesce(sum(e.value), 0.0), 3) AS sum_value
FROM orders o LEFT JOIN events e
  ON e.user_id = o.o_custkey
 AND epoch_ms(e.ts) >= epoch_ms(o.o_orderdate)
 AND epoch_ms(e.ts) < epoch_ms(o.o_orderdate) + 604800000
GROUP BY 1
"""
    # rollup path answers must equal the raw-path temporal aggregation —
    # reuse the very same backward-aligned oracles
    o["rollup_temporal_sum"] = _temporal_oracle(
        604800000, "round(sum(value), 3)", "sum_value"
    )
    o["rollup_temporal_avg"] = _temporal_oracle(
        172800000, "round(avg(value), 3)", "avg_value"
    )
    o["scale_heavy_hitters"] = """
WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
c AS (SELECT token, count(*) AS n FROM t GROUP BY token)
SELECT token, n, cast(row_number() OVER (ORDER BY n DESC, token ASC) AS int) AS rank
FROM c ORDER BY n DESC, token ASC LIMIT 20
"""
    o["scale_join_chain"] = """
WITH per_order AS (
  SELECT l_orderkey,
         sum(cast(l_extendedprice AS DECIMAL(18,2))
             * (cast(1 AS DECIMAL(18,2)) - cast(l_discount AS DECIMAL(18,2)))) AS rev
  FROM lineitem GROUP BY 1)
SELECT c_mktsegment, o_orderpriority, count(*) AS n_orders,
       cast(sum(rev) AS DOUBLE) AS revenue
FROM per_order
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
"""
    # same fixed-grid sketch arithmetic replayed relationally: identical
    # binning, cumulative, and in-bin interpolation (exact-merge property
    # means sketch(all) == what the Spark side serves after any merge)
    o["rollup_percentiles"] = """
WITH e AS (SELECT value FROM events),
st AS (SELECT min(value) AS vlo, max(value) AS vhi, count(*) AS n FROM e),
b AS (SELECT cast(greatest(least(floor((e.value - st.vlo) / ((st.vhi - st.vlo) / 256)),
                           255), 0) AS int) AS bin
      FROM e, st),
h AS (SELECT bin, count(*) AS cnt FROM b GROUP BY bin),
c AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum FROM h),
qs AS (SELECT unnest([0.25, 0.5, 0.9, 0.99])::DOUBLE AS q),
sel AS (SELECT qs.q AS q, min(c.bin) AS bin
        FROM qs, st, c WHERE c.cum >= qs.q * st.n GROUP BY qs.q)
SELECT sel.q AS q,
       round(st.vlo + ((st.vhi - st.vlo) / 256) *
             (sel.bin + (sel.q * st.n - (c.cum - c.cnt)) / c.cnt), 6) AS pvalue
FROM sel JOIN c USING (bin), st
ORDER BY q
"""
    o["rollup_temporal_percentile"] = f"""
{M},
b AS (SELECT (min(timestamp)//{SHARD})*{SHARD} AS lower,
             (max(timestamp)//{SHARD})*{SHARD} + {SHARD} AS upper FROM m),
n AS (SELECT lower, upper,
             (upper - lower + {86400000} - 1)//{86400000} AS nf,
             (upper - lower + {604800000} - 1)//{604800000} AS nc FROM b),
st AS (SELECT min(value) AS vlo, max(value) AS vhi FROM m),
pts AS (SELECT least(least((n.upper - m.timestamp)//{86400000}, n.nf-1)//7, n.nc-1) AS kc,
               m.value FROM m, n),
h AS (SELECT kc,
             cast(greatest(least(floor((pts.value - st.vlo) / ((st.vhi - st.vlo) / 256)),
                           255), 0) AS int) AS bin,
             count(*) AS cnt
      FROM pts, st GROUP BY 1, 2),
c AS (SELECT kc, bin, cnt,
             sum(cnt) OVER (PARTITION BY kc ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY kc) AS nn FROM h),
sel AS (SELECT kc, nn, min(bin) AS bin FROM c WHERE cum >= 0.9::DOUBLE * nn GROUP BY kc, nn),
pv AS (SELECT sel.kc AS kc,
              round(st.vlo + ((st.vhi - st.vlo)/256) *
                    (sel.bin + (0.9::DOUBLE * sel.nn - (c.cum - c.cnt))/c.cnt), 6) AS pvalue
       FROM sel JOIN c ON sel.kc = c.kc AND sel.bin = c.bin, st),
ks AS (SELECT unnest(generate_series(0, cast(n.nc-1 AS bigint))) AS kc,
              n.upper, n.lower FROM n),
axis AS (SELECT kc, upper - kc*{604800000} AS upper_bound,
                greatest(upper - (kc+1)*{604800000}, lower) AS lower_bound FROM ks)
SELECT axis.upper_bound AS timestamp, axis.lower_bound AS lower_bound,
       axis.upper_bound AS upper_bound, coalesce(pv.pvalue, 0.0) AS pvalue
FROM axis LEFT JOIN pv USING (kc)
ORDER BY timestamp
"""
    o["rollup_group_percentile"] = f"""
{M},
st AS (SELECT min(value) AS vlo, max(value) AS vhi FROM m),
h AS (SELECT event_type,
             cast(greatest(least(floor((m.value - st.vlo) / ((st.vhi - st.vlo) / 256)),
                           255), 0) AS int) AS bin,
             count(*) AS cnt
      FROM m, st GROUP BY 1, 2),
c AS (SELECT event_type, bin, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS nn FROM h),
sel AS (SELECT event_type, nn, min(bin) AS bin FROM c
        WHERE cum >= 0.9::DOUBLE * nn GROUP BY event_type, nn)
SELECT sel.event_type AS event_type, cast(sel.nn AS bigint) AS n,
       round(st.vlo + ((st.vhi - st.vlo)/256) *
             (sel.bin + (0.9::DOUBLE * sel.nn - (c.cum - c.cnt))/c.cnt), 6) AS pvalue
FROM sel JOIN c ON sel.event_type = c.event_type AND sel.bin = c.bin, st
ORDER BY event_type
"""
    o["rollup_temporal_count_distinct"] = f"""
{M},
b AS (SELECT (min(timestamp)//{SHARD})*{SHARD} AS lower,
             (max(timestamp)//{SHARD})*{SHARD} + {SHARD} AS upper FROM m),
n AS (SELECT lower, upper,
             (upper - lower + {86400000} - 1)//{86400000} AS nf,
             (upper - lower + {604800000} - 1)//{604800000} AS nc FROM b),
pts AS (SELECT least(least((n.upper - m.timestamp)//{86400000}, n.nf-1)//7, n.nc-1) AS kc,
               cast(concat('0x', substr(md5(m.user_id::VARCHAR), 1, 15)) AS bigint) % 4096 AS idx
        FROM m, n),
v AS (SELECT kc, count(DISTINCT idx) AS V FROM pts GROUP BY kc),
ks AS (SELECT unnest(generate_series(0, cast(n.nc-1 AS bigint))) AS kc,
              n.upper, n.lower FROM n),
axis AS (SELECT kc, upper - kc*{604800000} AS upper_bound,
                greatest(upper - (kc+1)*{604800000}, lower) AS lower_bound FROM ks)
SELECT axis.upper_bound AS timestamp, axis.lower_bound AS lower_bound,
       axis.upper_bound AS upper_bound,
       CASE WHEN v.V IS NULL THEN 0.0
            WHEN v.V < 4096 THEN round(-4096 * ln(1 - (v.V::DOUBLE) / 4096), 3)
            ELSE NULL END AS est_distinct
FROM axis LEFT JOIN v USING (kc)
ORDER BY timestamp
"""
    o["rollup_temporal_topk"] = f"""
{M},
b AS (SELECT (min(timestamp)//{SHARD})*{SHARD} AS lower,
             (max(timestamp)//{SHARD})*{SHARD} + {SHARD} AS upper FROM m),
n AS (SELECT lower, upper,
             (upper - lower + {86400000} - 1)//{86400000} AS nf,
             (upper - lower + {604800000} - 1)//{604800000} AS nc FROM b),
pts AS (SELECT least(least((n.upper - m.timestamp)//{86400000}, n.nf-1)//7, n.nc-1) AS kc,
               event_type AS item FROM m, n),
cnts AS (SELECT kc, item, count(*) AS count_value FROM pts GROUP BY 1, 2),
rk AS (SELECT kc, item, count_value,
              row_number() OVER (PARTITION BY kc
                                 ORDER BY count_value DESC, item) AS rank
       FROM cnts)
SELECT n.upper - kc*{604800000} AS timestamp,
       greatest(n.upper - (kc+1)*{604800000}, n.lower) AS lower_bound,
       n.upper - kc*{604800000} AS upper_bound,
       item, count_value, cast(rank AS int) AS rank
FROM rk, n WHERE rank <= 3 ORDER BY timestamp, rank
"""
    _hll_m, _hll_w, _hll_c = rollup.hll_constants(10)
    o["rollup_temporal_hll"] = f"""
{M},
b AS (SELECT (min(timestamp)//{SHARD})*{SHARD} AS lower,
             (max(timestamp)//{SHARD})*{SHARD} + {SHARD} AS upper FROM m),
n AS (SELECT lower, upper,
             (upper - lower + {86400000} - 1)//{86400000} AS nf,
             (upper - lower + {604800000} - 1)//{604800000} AS nc FROM b),
pts AS (SELECT least(least((n.upper - m.timestamp)//{86400000}, n.nf-1)//7, n.nc-1) AS kc,
               cast(concat('0x', substr(md5(m.user_id::VARCHAR), 1, 15)) AS bigint) AS h
        FROM m, n),
regs AS (SELECT kc, h % {_hll_m} AS reg,
                max(CASE WHEN h >> 10 = 0 THEN {_hll_w + 1}
                    ELSE {_hll_w} - length(bin(h >> 10)) + 1 END) AS rho
         FROM pts GROUP BY kc, h % {_hll_m}),
agg AS (SELECT kc, count(*) AS present,
               sum(1::bigint << ({_hll_w + 1} - rho)) AS t_present
        FROM regs GROUP BY kc),
est AS (SELECT kc, present,
               {_hll_m} - present AS V,
               {_hll_c!r} / (t_present + ({_hll_m} - present)
                             * (1::bigint << {_hll_w + 1})) AS e_raw
        FROM agg),
ks AS (SELECT unnest(generate_series(0, cast(n.nc-1 AS bigint))) AS kc,
              n.upper, n.lower FROM n),
axis AS (SELECT kc, upper - kc*{604800000} AS upper_bound,
                greatest(upper - (kc+1)*{604800000}, lower) AS lower_bound FROM ks)
SELECT axis.upper_bound AS timestamp, axis.lower_bound AS lower_bound,
       axis.upper_bound AS upper_bound,
       CASE WHEN est.present IS NULL THEN 0.0
            WHEN est.e_raw <= {2.5 * _hll_m} AND est.V > 0
              THEN round({float(_hll_m)!r} * ln({float(_hll_m)!r} / est.V), 3)
            ELSE round(est.e_raw, 3) END AS est_distinct
FROM axis LEFT JOIN est USING (kc)
ORDER BY timestamp
"""
    o["rollup_group_count_distinct"] = f"""
{M},
v AS (SELECT event_type,
             count(DISTINCT cast(concat('0x', substr(md5(user_id::VARCHAR), 1, 15)) AS bigint) % 4096) AS V
      FROM m GROUP BY event_type)
SELECT event_type,
       CASE WHEN V < 4096
            THEN round(-4096 * ln(1 - (V::DOUBLE) / 4096), 3)
            ELSE NULL END AS est_distinct
FROM v ORDER BY event_type
"""
    # Holt fold replayed as a recursive CTE stepping the (ts, id)-ordered
    # sequence one element per iteration — DuckDB 1.0's list_reduce
    # aliases struct-accumulator fields (the b expression observes the
    # already-updated l), so the pair recurrence can't use it. The
    # l-expression inlines twice per step (same double both times).
    # raw-path oracle for the moment rollup: same backward bucket axis
    # as _temporal_oracle, power sums per coarse bucket, closed-form
    # standardized moments in the identical expression order
    o["rollup_temporal_skew"] = f"""
{M},
b AS (SELECT (min(timestamp)//{SHARD})*{SHARD} AS lower,
             (max(timestamp)//{SHARD})*{SHARD} + {SHARD} AS upper FROM m),
n AS (SELECT lower, upper,
             (upper - lower + 604800000 - 1)//604800000 AS nb FROM b),
ks AS (SELECT unnest(generate_series(0, cast(n.nb-1 AS bigint))) AS k,
              n.upper, n.lower FROM n),
buckets AS (
  SELECT k, upper - k*604800000 AS upper_bound,
         greatest(upper - (k+1)*604800000, lower) AS lower_bound
  FROM ks
),
agg AS (
  SELECT least((n.upper - m.timestamp)//604800000, n.nb-1) AS k,
         cast(count(*) AS bigint) AS cnt,
         sum(value) AS s1, sum(value*value) AS s2,
         sum(value*value*value) AS s3,
         sum(value*value*value*value) AS s4
  FROM m, n WHERE m.timestamp >= n.lower GROUP BY 1
),
x AS (SELECT k, cnt, s1 / cnt AS mu,
             s2 / cnt - (s1 / cnt) * (s1 / cnt) AS m2,
             s3 / cnt - 3.0 * (s1 / cnt) * (s2 / cnt)
               + 2.0 * (s1 / cnt) * (s1 / cnt) * (s1 / cnt) AS m3,
             s4 / cnt - 4.0 * (s1 / cnt) * (s3 / cnt)
               + 6.0 * (s1 / cnt) * (s1 / cnt) * (s2 / cnt)
               - 3.0 * (s1 / cnt) * (s1 / cnt) * (s1 / cnt) * (s1 / cnt)
               AS m4
      FROM agg)
SELECT b.upper_bound AS timestamp, b.lower_bound AS lower_bound,
       b.upper_bound AS upper_bound,
       cast(coalesce(x.cnt, 0) AS bigint) AS n_value,
       round(x.mu, 6) AS mean,
       round(x.m3 / sqrt(x.m2 * x.m2 * x.m2), 6) AS skewness,
       round(x.m4 / (x.m2 * x.m2) - 3.0, 6) AS ex_kurtosis
FROM buckets b LEFT JOIN x USING (k)
"""
    # nearest = best of a backward and a forward ASOF, backward wins
    # ties; right side deduped per (key, ts) exactly like the Spark
    # tie_break (arg_max by o_orderkey) so both engines pick one row
    o["join_nearest_events_orders"] = """
WITH r AS (
  SELECT o_custkey, epoch_ms(o_orderdate) AS rts,
         max(o_orderkey) AS o_orderkey,
         arg_max(o_totalprice, o_orderkey) AS o_totalprice
  FROM orders GROUP BY 1, 2
),
e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
b AS (
  SELECT e.event_id, e.user_id, e.ts_ms,
         r.o_orderkey AS bkey, r.o_totalprice AS bprice,
         e.ts_ms - r.rts AS bdist
  FROM e ASOF LEFT JOIN r
    ON e.user_id = r.o_custkey AND e.ts_ms >= r.rts
),
f AS (
  SELECT e.event_id, r.o_orderkey AS fkey, r.o_totalprice AS fprice,
         r.rts - e.ts_ms AS fdist
  FROM e ASOF LEFT JOIN r
    ON e.user_id = r.o_custkey AND e.ts_ms <= r.rts
),
j AS (
  SELECT b.*, f.fkey, f.fprice, f.fdist,
         (b.bdist IS NOT NULL AND b.bdist <= 2592000000) AS b_ok,
         (f.fdist IS NOT NULL AND f.fdist <= 2592000000) AS f_ok
  FROM b JOIN f USING (event_id)
)
SELECT event_id, user_id, ts_ms,
       CASE WHEN b_ok AND (NOT f_ok OR bdist <= fdist) THEN bkey
            WHEN f_ok THEN fkey END AS near_o_orderkey,
       CASE WHEN b_ok AND (NOT f_ok OR bdist <= fdist) THEN bprice
            WHEN f_ok THEN fprice END AS near_o_totalprice,
       CASE WHEN b_ok AND (NOT f_ok OR bdist <= fdist) THEN bdist
            WHEN f_ok THEN fdist END AS near_dist
FROM j
"""
    zterms = " + ".join(
        f"((({col} >> {j}) & 1) << {j * 2 + i})"
        for i, col in enumerate(
            ["(user_id % 256)", "(cast(floor(value) AS BIGINT) % 256)"]
        )
        for j in range(8)
    )
    o["scale_zorder_key"] = (
        f"{M} SELECT event_id, cast({zterms} AS BIGINT) AS zkey FROM m"
    )
    # result-identity oracle: salting must be invisible in the output
    o["scale_salted_join"] = """
WITH d AS (SELECT o_custkey AS user_id,
                  round(sum(o_totalprice), 3) AS cust_total
           FROM orders GROUP BY 1)
SELECT event_id, user_id, value, cust_total
FROM events JOIN d USING (user_id)
"""
