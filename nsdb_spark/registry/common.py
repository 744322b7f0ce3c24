"""Driver-facing query registry: every implemented operator from
SURVEY.md §2 plus the training-data extensions, each as a
(spark_callable, duckdb_oracle_sql) pair over the shared testdata tables.

The NSDb-class queries run through the full engine pipeline
(parse → analyze → compile) against the `events` metric frame; the
extension queries call the operators/ modules directly. Oracle SQL
re-expresses the same semantics in portable DuckDB SQL (including the NSDb
quirks: backward-aligned temporal buckets, count-clamped-to-limit, mixed
plain+agg result shaping).

Float discipline: any column produced by FP *accumulation* (sum/avg over
many doubles) is rounded to 3 decimals on BOTH sides — partial-aggregation
order differs between engines, and raw doubles would hash-mismatch. Exact
doubles (min/max/values) stay raw. Ratios of integers are bit-identical and
only rounded for presentation.
"""
from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import (
    analytics,
    bpe,
    clustering,
    dedup,
    embeddings_gemm,
    graph,
    joins,
    layout,
    multimodal,
    packing,
    pq,
    profiling,
    ranking,
    rollup,
    sampling,
    selection,
    similarity,
    skew,
    temporal_join,
    text,
    tsa,
)
from ..sources import bucketed, testdata

SHARD = testdata.SHARD_INTERVAL_MS  # 2592000000 (30 d)

#: BM25 query terms — high/mid/low df in the synthetic corpus
BM25_TERMS = ["join", "hash", "scan"]
#: McNemar / time-split boundary — 2024-01-16T00:00:00Z, the midpoint
#: of the synthetic events span (all SFs cover January 2024)
MCNEMAR_SPLIT_MS = 1_705_363_200_000
#: exact token-contiguous phrase for the phrase-retrieval variant
BM25_PHRASE = "table scan"
#: batch-scoring query set (overlapping term lists exercise the shared
#: per-term computation)
BM25_QUERIES = {
    "q_joins": ["join", "merge", "hash"],
    "q_scans": ["scan", "filter", "row"],
    "q_mixed": ["join", "scan", "vector"],
}

# CTE exposing events with the metric-frame column contract
M = (
    "WITH m AS (SELECT epoch_ms(ts) AS timestamp, value, event_id, "
    "event_type, props, user_id FROM events)"
)


def _round(df: DataFrame, cols: dict[str, int]) -> DataFrame:
    for c, d in cols.items():
        df = df.withColumn(c, F.round(F.col(c), d))
    return df


def _nsdb(sql: str, rounds: dict[str, int] | None = None, relative_now: bool = False):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        now = testdata.events_ts_range(sf_dir)[1] if relative_now else None
        df = testdata.run_nsdb_on_events(spark, sf_dir, sql, now_ms=now)
        return _round(df, rounds) if rounds else df

    return fn


def _temporal_oracle(
    interval_ms: int,
    agg_sql: str,
    alias: str,
    limit: int | None = None,
    grace_ms: int | None = None,
    min_two_level: bool = False,
) -> str:
    """Backward-aligned temporal bucket oracle (SURVEY.md §4.3): buckets run
    backward from the 30 d shard-interval top; first bucket truncated; empty
    buckets emitted with 0; LIMIT keeps the most recent buckets.

    grace_ms: SINCE clause — the bucket axis' lower bound is raised to
    now - grace (now = data max), and older rows are excluded.
    min_two_level: the temporal-min quirk (post_proc/package.scala:170-176)
    — per-shard partial minima reduced with zero partials skipped.
    """
    limit_pred = f"WHERE k < {limit}" if limit else ""
    lower_sql = f"(min(timestamp)//{SHARD})*{SHARD}"
    if grace_ms is not None:
        lower_sql = f"greatest({lower_sql}, max(timestamp) - {grace_ms})"
    if min_two_level:
        agg_cte = f"""
agg1 AS (
  SELECT least((n.upper - m.timestamp)//{interval_ms}, n.nb-1) AS k,
         (m.timestamp//{SHARD})*{SHARD} AS shard, min(value) AS pmin
  FROM m, n WHERE m.timestamp >= n.lower GROUP BY 1, 2
),
agg AS (
  SELECT k, coalesce(min(CASE WHEN pmin <> 0 THEN pmin END), 0) AS v
  FROM agg1 GROUP BY k
)"""
    else:
        agg_cte = f"""
agg AS (
  SELECT least((n.upper - m.timestamp)//{interval_ms}, n.nb-1) AS k, {agg_sql} AS v
  FROM m, n WHERE m.timestamp >= n.lower GROUP BY 1
)"""
    return f"""
{M},
b AS (SELECT {lower_sql} AS lower,
             (max(timestamp)//{SHARD})*{SHARD} + {SHARD} AS upper FROM m),
n AS (SELECT lower, upper, (upper - lower + {interval_ms} - 1)//{interval_ms} AS nb FROM b),
ks AS (SELECT unnest(generate_series(0, cast(n.nb-1 AS bigint))) AS k, n.upper, n.lower FROM n),
buckets AS (
  SELECT k, upper - k*{interval_ms} AS upper_bound,
         greatest(upper - (k+1)*{interval_ms}, lower) AS lower_bound
  FROM ks
),{agg_cte}
SELECT b.upper_bound AS timestamp, b.lower_bound AS lower_bound,
       b.upper_bound AS upper_bound, coalesce(agg.v, 0) AS {alias}
FROM buckets b LEFT JOIN agg USING (k) {limit_pred}
"""


def _temporal_multi_oracle(
    interval_ms: int,
    agg_sql: str,
    alias: str,
    intervals: list[tuple[int | None, int | None]],
) -> str:
    """Per-interval backward-aligned temporal axes for a DISJOINT WHERE
    time-range set (TimeRangeManager.computeRangesForIntervalAndCondition,
    TimeRangeManager.scala:102-124): one axis per interval, each aligned
    backward from its own (data-extent-clipped) top; no zero-buckets in
    excluded gaps. `intervals`: (lo, hi) with None = unbounded (clipped to
    the shard-aligned data extent, matching the compiler's scale stance).
    """
    segs = []
    for lo, hi in intervals:
        lo_sql = "dlo" if lo is None else f"greatest(CAST({lo} AS BIGINT), dlo)"
        hi_sql = "dup" if hi is None else f"least(CAST({hi} AS BIGINT), dup)"
        segs.append(f"SELECT {lo_sql} AS lo, {hi_sql} AS up FROM b")
    segs_sql = "\nUNION ALL\n".join(segs)
    return f"""
{M},
b AS (SELECT (min(timestamp)//{SHARD})*{SHARD} AS dlo,
             (max(timestamp)//{SHARD})*{SHARD} + {SHARD} AS dup FROM m),
segs AS ({segs_sql}),
n AS (SELECT lo, up, (up - lo + {interval_ms} - 1)//{interval_ms} AS nb
      FROM segs WHERE up > lo),
offs AS (SELECT lo, up, nb,
         CAST(coalesce(sum(nb) OVER (ORDER BY up DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS off
         FROM n),
ks AS (SELECT off + unnest(generate_series(0, cast(nb-1 AS bigint))) AS k,
              up, lo, off FROM offs),
buckets AS (SELECT k, up - (k-off)*{interval_ms} AS upper_bound,
            greatest(up - (k-off+1)*{interval_ms}, lo) AS lower_bound FROM ks),
agg AS (SELECT o.off + least((o.up - m.timestamp)//{interval_ms}, o.nb-1) AS k,
               {agg_sql} AS v
        FROM m JOIN offs o ON m.timestamp BETWEEN o.lo AND o.up GROUP BY 1)
SELECT bu.upper_bound AS timestamp, bu.lower_bound AS lower_bound,
       bu.upper_bound AS upper_bound, coalesce(agg.v, 0) AS {alias}
FROM buckets bu LEFT JOIN agg USING (k)
"""


# ---------------------------------------------------------------- documents

# Default stop-shingle guard for the exact pair-join entries: drop shingles
# whose document frequency exceeds max(floor, ceil(frac * n_docs)) before
# pairing. A shingle shared by that many docs carries no discriminating
# signal but fans the equi-join out quadratically inside its group — at
# 100 TB the unguarded join is the scale-killer, so the guard is the
# DEFAULT and the unguarded form is the opt-in (`dedup_ngram_jaccard_raw`).
_PAIR_GUARD_FLOOR = 10
_PAIR_GUARD_FRAC = 0.005


def _pair_guard_limit(spark, sf_dir: str) -> int:
    import math as _math

    n = _docs(spark, sf_dir).count()
    return max(_PAIR_GUARD_FLOOR, _math.ceil(_PAIR_GUARD_FRAC * n))


def _shingles_cte(capped: bool = False) -> str:
    """Per-doc distinct shingles (s/sg), set sizes (c), pair commons (p).

    capped=True mirrors the Spark entries' default stop-shingle guard —
    same df cap formula, same drop-before-count semantics.
    """
    src, guard = "s", ""
    if capped:
        guard = f""",
hot AS (SELECT sh FROM s GROUP BY sh
        HAVING count(*) > greatest({_PAIR_GUARD_FLOOR},
               cast(ceil({_PAIR_GUARD_FRAC} * (SELECT count(*) FROM documents)) AS bigint))),
sg AS (SELECT s.doc_id, s.sh FROM s ANTI JOIN hot USING (sh))"""
        src = "sg"
    return f"""
w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
s AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(words) >= 3
        THEN list_transform(generate_series(1, cast(len(words)-2 AS bigint)),
                            i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
        ELSE [array_to_string(words, ' ')] END)) AS sh FROM w){guard},
c AS (SELECT doc_id, count(*) AS n_sh FROM {src} GROUP BY doc_id),
p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM {src} a JOIN {src} b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
"""


def _guarded_pairs_cte(threshold: float) -> str:
    """pairs(doc_a, doc_b): the guarded jaccard pair set at `threshold`
    over the capped shingle CTEs — THE near-dup graph every
    cluster/pagerank/keep-best oracle shares; one definition so a
    threshold or guard change can't silently diverge one of them from
    the Spark entries."""
    return f"""
pairs AS (
  SELECT doc_a, doc_b
  FROM p JOIN c ca ON p.doc_a = ca.doc_id JOIN c cb ON p.doc_b = cb.doc_id
  WHERE round(common / (ca.n_sh + cb.n_sh - common), 6) >= {threshold}
)"""


_EDGES_CTE = """
edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs)"""

_REACH_CTE = """
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.d, r.root FROM reach r JOIN edges e ON e.s = r.node
)"""


def _pagerank_oracle(iters: int = 5, damping: float = 0.85) -> str:
    """PageRank over the guarded jaccard near-dup graph, the iteration
    count UNROLLED into chained CTEs (fixed iters makes recursion
    unnecessary and sidesteps SQL's single-self-reference rule): per
    step one in-mass aggregate + the textbook dangling-mass
    redistribution, exactly graph.pagerank's update."""
    steps = []
    for t in range(1, iters + 1):
        steps.append(f"""
s{t} AS MATERIALIZED (SELECT we.d AS node, sum(r.rank * we.wt) AS in_mass
        FROM we JOIN r{t - 1} r ON we.s = r.node GROUP BY we.d),
r{t} AS MATERIALIZED (SELECT d.doc_id AS node,
         (1.0 - {damping}) / (SELECT n FROM nct)
         + {damping} * (coalesce(s.in_mass, 0)
             + (1.0 - (SELECT coalesce(sum(in_mass), 0) FROM s{t}))
               / (SELECT n FROM nct)) AS rank
        FROM documents d LEFT JOIN s{t} s ON s.node = d.doc_id)""")
    return f"""
WITH {_shingles_cte(capped=True)},{_guarded_pairs_cte(0.5)},{_EDGES_CTE},
deg AS (SELECT s, count(*) AS deg FROM edges GROUP BY s),
we AS (SELECT e.s, e.d, 1.0 / deg.deg AS wt FROM edges e JOIN deg USING (s)),
nct AS (SELECT count(*) AS n FROM documents),
r0 AS (SELECT doc_id AS node, 1.0 / (SELECT n FROM nct) AS rank FROM documents),
{",".join(steps)}
SELECT node, round(rank, 6) AS rank FROM r{iters}
"""


def _label_prop_oracle(iters: int = 4) -> str:
    """Synchronous min-label LPA unrolled into chained CTEs (the
    pagerank-oracle discipline: fixed iterations need no recursion, so
    none of DuckDB's recursive-CTE aggregate restrictions apply). Each
    step: neighbor-label counts, arg-max per node via row_number
    (cnt DESC, label ASC — the deterministic tie-break), keep-old on
    isolated nodes."""
    steps = []
    for t in range(1, iters + 1):
        steps.append(f"""
c{t} AS MATERIALIZED (SELECT e.s AS node, p.label, count(*) AS cnt
        FROM edges e JOIN l{t - 1} p ON e.d = p.node GROUP BY 1, 2),
b{t} AS MATERIALIZED (SELECT node, label AS new_label FROM (
          SELECT node, label,
                 row_number() OVER (PARTITION BY node
                                    ORDER BY cnt DESC, label ASC) AS rn
          FROM c{t}) WHERE rn = 1),
l{t} AS MATERIALIZED (SELECT p.node, coalesce(b.new_label, p.label) AS label
        FROM l{t - 1} p LEFT JOIN b{t} b USING (node))""")
    return f"""
WITH {_shingles_cte(capped=True)},{_guarded_pairs_cte(0.5)},{_EDGES_CTE},
l0 AS (SELECT doc_id AS node, doc_id AS label FROM documents),
{",".join(steps)}
SELECT node, label FROM l{iters}
"""


def _modularity_oracle(iters: int = 4) -> str:
    """Newman Q over the SAME trajectory as _label_prop_oracle: the
    LPA chain runs to l{iters}, then per-community within-edge counts
    and degree sums close the sum — every CTE shared verbatim with the
    LPA oracle so the two entries can't diverge."""
    steps = []
    for t in range(1, iters + 1):
        steps.append(f"""
c{t} AS MATERIALIZED (SELECT e.s AS node, p.label, count(*) AS cnt
        FROM edges e JOIN l{t - 1} p ON e.d = p.node GROUP BY 1, 2),
b{t} AS MATERIALIZED (SELECT node, label AS new_label FROM (
          SELECT node, label,
                 row_number() OVER (PARTITION BY node
                                    ORDER BY cnt DESC, label ASC) AS rn
          FROM c{t}) WHERE rn = 1),
l{t} AS MATERIALIZED (SELECT p.node, coalesce(b.new_label, p.label) AS label
        FROM l{t - 1} p LEFT JOIN b{t} b USING (node))""")
    return f"""
WITH {_shingles_cte(capped=True)},{_guarded_pairs_cte(0.5)},{_EDGES_CTE},
l0 AS (SELECT doc_id AS node, doc_id AS label FROM documents),
{",".join(steps)},
ue AS (SELECT DISTINCT least(doc_a, doc_b) AS u, greatest(doc_a, doc_b) AS v
       FROM pairs WHERE doc_a <> doc_b),
mm AS (SELECT cast(count(*) AS bigint) AS m FROM ue),
wj AS (SELECT ue.u, ue.v, a.label AS la, b.label AS lb
       FROM ue JOIN l{iters} a ON ue.u = a.node
       JOIN l{iters} b ON ue.v = b.node),
wc AS (SELECT la AS label, cast(count(*) AS bigint) AS ec FROM wj
       WHERE la = lb GROUP BY 1),
dg AS (SELECT node, cast(count(*) AS bigint) AS d FROM
       (SELECT u AS node FROM ue UNION ALL SELECT v FROM ue) GROUP BY 1),
dc AS (SELECT l.label, cast(sum(dg.d) AS bigint) AS dsum
       FROM dg JOIN l{iters} l ON dg.node = l.node GROUP BY 1),
nc AS (SELECT cast(count(DISTINCT label) AS bigint) AS n_communities
       FROM l{iters})
SELECT max(mm.m) AS m, max(nc.n_communities) AS n_communities,
       round(sum(coalesce(wc.ec, 0) / cast(mm.m AS double)
                 - (dc.dsum / (2.0 * mm.m))
                   * (dc.dsum / (2.0 * mm.m))), 6) AS modularity
FROM dc LEFT JOIN wc USING (label), mm, nc
"""


def _bfs_oracle(source: str, rounds: int) -> str:
    """Single-source BFS unrolled into chained CTEs on the prefixed
    supplier-customer bipartite (the kcore-oracle graph): per round,
    min over (previous distances ∪ frontier+1). BFS layering is
    confluent, so the fixed-round prefix matches the Spark side."""
    steps = []
    for r in range(rounds):
        steps.append(f"""
d{r + 1} AS (SELECT node, cast(min(hops) AS int) AS hops FROM (
   SELECT node, hops FROM d{r}
   UNION ALL
   SELECT u.b AS node, d{r}.hops + 1 FROM u0 u JOIN d{r} ON u.a = d{r}.node
) GROUP BY node)""")
    return f"""
WITH e0 AS (SELECT DISTINCT 's' || l_suppkey AS a, 'c' || o_custkey AS b
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
u0 AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
d0 AS (SELECT '{source}' AS node, 0 AS hops),
{",".join(steps)}
SELECT node, hops FROM d{rounds}
"""


def _passage_oracle(k: int = 8, stride: int = 8) -> str:
    """Mirror of dedup.passage_dup_stats: k-word windows every `stride`
    words (stride=k → non-overlapping), canonical copy = min scalar
    composite doc_id·2^20 + window index."""
    return f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
p AS (SELECT doc_id,
             unnest(generate_series(0, cast(ceil(len(words)/{stride}.0) AS bigint) - 1)) AS pos,
             words FROM w),
p2 AS (SELECT doc_id, pos,
              array_to_string(words[(pos*{stride}+1):(pos*{stride}+{k})], ' ') AS passage FROM p),
kk AS (SELECT doc_id, pos, passage, doc_id * 1048576 + pos AS ck FROM p2),
h AS (SELECT passage, count(*) AS cnt, min(ck) AS mn FROM kk GROUP BY passage)
SELECT doc_id, count(*) AS n_passages,
       cast(sum(CASE WHEN cnt > 1 AND ck <> mn THEN 1 ELSE 0 END) AS bigint)
         AS dup_passages,
       round(sum(CASE WHEN cnt > 1 AND ck <> mn THEN 1 ELSE 0 END)
             / count(*), 6) AS dup_frac
FROM kk JOIN h USING (passage) GROUP BY doc_id
"""


def _kmeans_oracle(k: int = 8, iters: int = 4, round_to: int = 6) -> str:
    """Lloyd's k-means unrolled into chained CTEs (the graph_pagerank
    discipline: fixed iterations need no recursion). Exactly mirrors
    clustering.kmeans_fit(round_to=6) + kmeans_summary: init = first k
    vectors by vec_id snapped to the decimal grid, per round a distance
    join on the exploded dims, argmin with the (dist, cell) tie-break,
    AVG re-centering snapped to the same grid, keep-old on empty cells;
    the final assignment reports per-cell count / inertia / RMS. The
    grid snap is what makes the trajectory engine-independent: raw
    distributed means differ in the last ulp, snapped ones don't."""
    return f"""
{_kmeans_cte_prefix(k, iters, round_to)},
af AS (SELECT vec_id, cell, d FROM (
        SELECT vec_id, cell, d,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d ASC, cell ASC) AS rn
        FROM df) WHERE rn = 1)
SELECT cast(cell AS int) AS cell, count(*) AS n_vecs,
       round(sum(d), 3) AS inertia, round(sqrt(avg(d)), 3) AS rms_dist
FROM af GROUP BY cell
"""


def _kmeans_cte_prefix(k: int, iters: int, round_to: int) -> str:
    """Shared WITH-chain for the k-means-derived oracles: training rounds
    c1..c{iters} plus `df`, the squared distance of every vector to every
    FINAL centroid — kmeans_summary and silhouette_by_cell both read
    from that frame."""
    steps = []
    for t in range(1, iters + 1):
        steps.append(f"""
d{t} AS (SELECT x.vec_id, c.cell, sum((x.xv - c.cv) * (x.xv - c.cv)) AS d
        FROM x JOIN c{t - 1} c USING (pos) GROUP BY 1, 2),
a{t} AS (SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY d ASC, cell ASC) AS rn
          FROM d{t}) WHERE rn = 1),
m{t} AS (SELECT a.cell, x.pos, round(avg(x.xv), {round_to}) AS mv
        FROM a{t} a JOIN x USING (vec_id) GROUP BY 1, 2),
c{t} AS (SELECT c.cell, c.pos, coalesce(m.mv, c.cv) AS cv
        FROM c{t - 1} c LEFT JOIN m{t} m ON m.cell = c.cell AND m.pos = c.pos)""")
    return f"""
WITH x AS (SELECT vec_id, i - 1 AS pos, cast(embedding[i] AS double) AS xv
           FROM embeddings,
                unnest(generate_series(1, cast(len(embedding) AS bigint))) AS t(i)),
init AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
         FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})),
c0 AS (SELECT init.cell, x.pos, round(x.xv, {round_to}) AS cv
       FROM init JOIN x USING (vec_id)),
{",".join(steps)},
df AS (SELECT x.vec_id, c.cell, sum((x.xv - c.cv) * (x.xv - c.cv)) AS d
       FROM x JOIN c{iters} c USING (pos) GROUP BY 1, 2)"""


def _hits_oracle(iters: int = 4, round_to: int = 6) -> str:
    """HITS unrolled into chained CTEs (the pagerank/kmeans discipline):
    per round an in-edge sum, an L2 normalize snapped to the decimal
    grid, an out-edge sum, another snapped normalize. The grid snap per
    half-step is what keeps the trajectory engine-independent."""
    # each CTE is referenced exactly ONCE downstream and the L2 norm is a
    # sum(...) OVER () window, not a scalar subquery — a second reference
    # would let DuckDB's CTE inlining re-expand the whole upstream chain
    # into both uses, doubling per half-step (2^(2·iters) plan blowup,
    # measured as a >5 min hang at sf0.01 before this form)
    steps = []
    for t in range(1, iters + 1):
        steps.append(f"""
ar{t} AS (SELECT d, sum(h) AS v FROM e JOIN h{t - 1} USING (s) GROUP BY 1),
a{t} AS (SELECT d, round(v / sqrt(sum(v * v) OVER ()),
                         {round_to}) AS a FROM ar{t}),
hr{t} AS (SELECT s, sum(a) AS v FROM e JOIN a{t} USING (d) GROUP BY 1),
h{t} AS (SELECT s, round(v / sqrt(sum(v * v) OVER ()),
                         {round_to}) AS h FROM hr{t})""")
    return f"""
WITH e AS (SELECT DISTINCT l_suppkey AS s, o_custkey AS d
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
h0 AS (SELECT s, round(1.0 / sqrt(count(*) OVER ()), {round_to}) AS h
       FROM (SELECT DISTINCT s FROM e)),
{",".join(steps)}
SELECT s AS node, 'hub' AS role, h AS score FROM h{iters}
UNION ALL
SELECT d AS node, 'authority' AS role, a AS score FROM a{iters}
"""


def _kcore_oracle(k: int, rounds: int) -> str:
    """k-core peeling unrolled into chained CTEs, one alive-set +
    surviving-edge-set pair per round (the pagerank/kmeans discipline;
    peeling is confluent so the fixpoint is order-independent and the
    fixed-round prefix matches the Spark side exactly). Node ids carry
    an 's'/'c' prefix because the graph is the supplier–customer
    bipartite and the two key spaces overlap."""
    steps = []
    for r in range(rounds):
        steps.append(f"""
alive{r} AS (SELECT a FROM u{r} GROUP BY a HAVING count(*) >= {k}),
u{r + 1} AS (SELECT u.a, u.b FROM u{r} u
             JOIN alive{r} x ON u.a = x.a
             JOIN alive{r} y ON u.b = y.a)""")
    return f"""
WITH e0 AS (SELECT DISTINCT 's' || l_suppkey AS a, 'c' || o_custkey AS b
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
u0 AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
{",".join(steps)}
SELECT a AS node, cast(count(*) AS bigint) AS degree
FROM u{rounds} GROUP BY 1
"""


def _silhouette_oracle(k: int = 8, iters: int = 4, round_to: int = 6) -> str:
    """Simplified-silhouette oracle on the same trained trajectory as
    _kmeans_oracle: rank every vector's k distances (d, cell), rn=1 is
    its own cell, rn=2 the nearest other centroid (exact ties give
    s = 0 in both engines — same tie-break as the Spark struct sort)."""
    return f"""
{_kmeans_cte_prefix(k, iters, round_to)},
sf AS (SELECT vec_id, cell, d,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d ASC, cell ASC) AS rn
       FROM df),
ab AS (SELECT a.vec_id, a.cell, a.d AS da, b.d AS db
       FROM sf a JOIN sf b ON a.vec_id = b.vec_id
       WHERE a.rn = 1 AND b.rn = 2),
s AS (SELECT cell,
             CASE WHEN db > 0
                  THEN round((sqrt(db) - sqrt(da)) / sqrt(db), 6)
                  ELSE 0.0 END AS sil
      FROM ab)
SELECT cast(cell AS int) AS cell, cast(count(*) AS bigint) AS n_vecs,
       round(avg(sil), 6) AS avg_silhouette
FROM s GROUP BY 1
"""


def _jaccard_oracle(threshold: float, capped: bool = False) -> str:
    return f"""
WITH {_shingles_cte(capped)}
SELECT doc_a, doc_b,
       round(common / (ca.n_sh + cb.n_sh - common), 6) AS jaccard
FROM p JOIN c ca ON p.doc_a = ca.doc_id JOIN c cb ON p.doc_b = cb.doc_id
WHERE round(common / (ca.n_sh + cb.n_sh - common), 6) >= {threshold}
"""


_SIMHASH_ORACLE = """
WITH w AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word FROM documents),
h AS (SELECT doc_id, cast(concat('0x', substr(md5(word), 1, 15)) AS bigint) AS hv FROM w),
bits AS (SELECT doc_id, g.k AS k,
                sum(CASE WHEN (hv >> g.k) & 1 = 1 THEN 1 ELSE -1 END) AS s
         FROM h, generate_series(0, 59) g(k) GROUP BY 1, 2),
fp AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::bigint << k) ELSE 0 END) AS f
       FROM bits GROUP BY doc_id)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.f, b.f)) AS int) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.f, b.f)) <= 6
"""

_EMB_CTE = """
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
"""

_COSINE_PAIRS_ORACLE = f"""
WITH {_EMB_CTE}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
FROM nn a JOIN nn b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45
"""

_TOPK_ORACLE = f"""
WITH {_EMB_CTE},
q AS (SELECT v AS qv, nrm AS qn FROM nn WHERE vec_id = 0)
SELECT nn.vec_id AS vec_id,
       round(list_dot_product(nn.v, q.qv) / (nn.nrm * q.qn), 6) AS cosine
FROM nn, q
ORDER BY list_dot_product(nn.v, q.qv) / (nn.nrm * q.qn) DESC, nn.vec_id
LIMIT 10
"""

#: 8 SRP hyperplanes over the 64-dim embeddings (md5-derived, reproducible
#: bit-for-bit in any engine — the same literals go into Spark and DuckDB).
#: 8 planes → 256 buckets: selective but non-degenerate at the test SFs.
RHP_PLANES = None  # populated lazily to keep import cheap


def _rhp_planes():
    global RHP_PLANES
    if RHP_PLANES is None:
        from ..operators.similarity import deterministic_hyperplanes

        RHP_PLANES = deterministic_hyperplanes(8, 64)
    return RHP_PLANES


def _rhp_oracle() -> str:
    planes = _rhp_planes()
    sig_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(repr(c) for c in p)}]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    probe_vals = ", ".join(str(1 << i) for i in range(len(planes)))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT vec_id, v, cast({sig_terms} AS bigint) AS sig FROM e),
q AS (SELECT v AS qv, sig AS qsig, sqrt(list_dot_product(v, v)) AS qn
      FROM s WHERE vec_id = 0),
cand AS (SELECT s.vec_id, s.v FROM s, q
         WHERE xor(s.sig, q.qsig) = 0 OR xor(s.sig, q.qsig) IN ({probe_vals}))
SELECT cand.vec_id AS vec_id,
       round(list_dot_product(cand.v, q.qv)
             / (sqrt(list_dot_product(cand.v, cand.v)) * q.qn), 6) AS cosine
FROM cand, q
ORDER BY list_dot_product(cand.v, q.qv)
         / (sqrt(list_dot_product(cand.v, cand.v)) * q.qn) DESC, cand.vec_id
LIMIT 10
"""


def _stoplist_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in text.LANG_STOPWORDS[lang]) + "]"


def _langid_oracle() -> str:
    score_cols = ",\n  ".join(
        f"len(list_distinct(list_intersect(words, {_stoplist_sql(lang)}))) AS s_{lang}"
        for lang in text.LANG_ORDER
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in text.LANG_ORDER) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in text.LANG_ORDER
    ) + " END"
    return f"""
WITH w AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS words FROM documents),
s AS (SELECT doc_id, {score_cols} FROM w)
SELECT doc_id, {case} AS pred_lang, cast({best} AS int) AS lang_score FROM s
"""


_QUALITY_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
s AS (SELECT doc_id, len(words) AS nw, len(list_distinct(words)) AS nd,
             len(list_distinct(list_intersect(words, {_stoplist_sql('en')}))) AS sh
      FROM w)
SELECT doc_id, cast(nw AS int) AS n_words, cast(nd AS int) AS n_distinct_words,
       round(sh / nw, 6) AS stop_ratio,
       round(1 - nd / nw, 6) AS dup_ratio,
       round(0.4*(sh/nw) + 0.3*(nd/nw) + 0.3*least(nw/100.0, 1.0), 6) AS quality
FROM s
"""

_TOKENS_ORACLE = """
SELECT doc_id,
       cast(len(string_split(text, ' ')) AS int) AS n_ws_tokens,
       cast(len(regexp_extract_all(text, '[A-Za-z]+')) AS int) AS n_alpha_tokens,
       cast(len(regexp_extract_all(text, '[0-9]+')) AS int) AS n_num_tokens,
       cast(strlen(text) AS int) AS n_bytes
FROM documents
"""

_FINGERPRINT_ORACLE = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
FROM documents
"""

_MM_ORACLE = """
SELECT doc_id, cast(strlen(text) AS int) AS n_bytes,
       cast(strlen(text) % 64 AS int) AS width,
       cast((strlen(text) // 64) % 64 AS int) AS height,
       'fake' AS format
FROM documents
"""


# ---------------------------------------------------------------- wiring


def _docs(spark, sf_dir):
    return testdata.table(spark, sf_dir, "documents")


def _mmr_oracle(k: int = 5, shortlist: int = 30, lam: float = 0.7) -> str:
    """Unrolled greedy MMR selection, one CTE pair per rank: rank i's
    pick is the argmax over the unselected shortlist of
    λ·rel − (1−λ)·max cos-to-selected — rel and the pairwise cosines
    round at 6 exactly like the Spark driver loop, and the λ weights are
    the SAME double expressions ({lam} and (1.0 − {lam}); a literal 0.3
    is a different double than 1.0 − 0.7)."""
    steps = [f"""
sel1 AS (SELECT vec_id, v, nrm, rel, {lam} * rel AS score, 1 AS rank
         FROM short ORDER BY rel DESC, vec_id LIMIT 1)"""]
    for i in range(2, k + 1):
        steps.append(f"""
d{i} AS (SELECT c.vec_id,
               max(round(list_dot_product(c.v, s.v) / (c.nrm * s.nrm), 6)) AS dv
        FROM short c, sel{i - 1} s
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
        GROUP BY c.vec_id),
p{i} AS (SELECT short.vec_id, short.v, short.nrm, short.rel,
               {lam} * short.rel - (1.0 - {lam}) * d{i}.dv AS score
        FROM short JOIN d{i} USING (vec_id)
        ORDER BY score DESC, vec_id LIMIT 1),
sel{i} AS (SELECT * FROM sel{i - 1} UNION ALL
           SELECT vec_id, v, nrm, rel, score, {i} AS rank FROM p{i})""")
    return f"""
WITH {_EMB_CTE},
q AS (SELECT v AS qv, nrm AS qn FROM nn WHERE vec_id = 0),
short AS (SELECT nn.vec_id, nn.v, nn.nrm,
                 round(list_dot_product(nn.v, q.qv) / (nn.nrm * q.qn), 6) AS rel
          FROM nn, q
          ORDER BY list_dot_product(nn.v, q.qv) / (nn.nrm * q.qn) DESC,
                   nn.vec_id
          LIMIT {shortlist}),
{",".join(steps)}
SELECT cast(rank AS int) AS rank, vec_id, rel AS relevance,
       round(score, 6) AS mmr_score
FROM sel{k}
"""


def _emb(spark, sf_dir):
    return testdata.table(spark, sf_dir, "embeddings")


def _query_vec(spark, sf_dir) -> list[float]:
    row = _emb(spark, sf_dir).filter(F.col("vec_id") == 0).select("embedding").first()
    return [float(x) for x in row[0]]


def _centroids(spark, sf_dir, n=16) -> list[list[float]]:
    # deterministic "training": the first n vectors act as centroids
    rows = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") < n)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    return [[float(x) for x in r[0]] for r in rows]


def _asof_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event enriched with the user's most recent order at-or-before
    the event time (orders.o_custkey ≙ events.user_id)."""
    ev_raw = testdata.table(spark, sf_dir, "events")
    ev = ev_raw.select(
        testdata.ts_ms(ev_raw).alias("ts_ms"), "event_id", "user_id"
    )
    orders = testdata.table(spark, sf_dir, "orders").select(
        "o_custkey",
        # o_orderdate is TIMESTAMP_NTZ; session tz is UTC (sources/testdata.py)
        # so the cast reads it as UTC — matching DuckDB's epoch_ms on naive ts
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 1000").alias("ots"),
        "o_orderkey",
        "o_totalprice",
    )
    out = temporal_join.asof_join(
        ev,
        orders,
        on=("user_id", "o_custkey"),
        ts=("ts_ms", "ots"),
        payload=["o_orderkey", "o_totalprice"],
        tie_break="o_orderkey",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_ms",
        F.col("asof_o_orderkey").alias("asof_orderkey"),
        F.col("asof_o_totalprice").alias("asof_totalprice"),
    )


def _nearest_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event paired with the temporally CLOSEST order of the same
    user (either direction, 30-day tolerance) — the sensor-alignment
    shape asof can't express; two as-of passes, never a |dt| theta
    join."""
    ev_raw = testdata.table(spark, sf_dir, "events")
    ev = ev_raw.select(
        testdata.ts_ms(ev_raw).alias("ts_ms"), "event_id", "user_id"
    )
    orders = testdata.table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 1000").alias("ots"),
        "o_orderkey",
        "o_totalprice",
    )
    out = temporal_join.nearest_join(
        ev,
        orders,
        on=("user_id", "o_custkey"),
        ts=("ts_ms", "ots"),
        payload=["o_orderkey", "o_totalprice"],
        tie_break="o_orderkey",
        tolerance=2592000000,  # 30 d
    )
    return out.select(
        "event_id", "user_id", "ts_ms",
        "near_o_orderkey", "near_o_totalprice", "near_dist",
    )
