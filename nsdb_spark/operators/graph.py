"""Iterative graph operators over edge DataFrames.

Training-data pipelines use link analysis for corpus quality weighting
(e.g. harmonic-centrality / PageRank priors over a web-crawl link graph
feed retention decisions). The operator here is plain power iteration
expressed as DataFrame joins — the same distributed shape as
dedup.connected_components: per round one co-partitioned join + one
aggregate, rank state never touches the driver.

Scale notes: ranks and out-degrees co-shuffle on the node key each round
(Catalyst reuses the exchange), dangling-node mass is a 1-row aggregate
broadcast into the update, and the round driver (`rounds.Rounds`)
localCheckpoints each round so round N doesn't re-execute rounds
1..N-1, and releases the frames an operator pinned.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rounds import Rounds


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """PageRank by power iteration: (node, rank rounded to 6).

    edges: directed (src, dst) pairs; nodes: the full vertex set (isolated
    vertices keep the teleport mass). Dangling-node mass is redistributed
    uniformly each round (standard stochastic-matrix fix), so total rank
    mass stays 1 and results match the textbook formulation.
    """
    with Rounds(edges.sparkSession) as r:
        nodes = r.pin(nodes)
        n = nodes.count()
        if n == 0:
            return nodes.select(F.col(node_col), F.lit(0.0).alias("rank"))
        # Fold the static per-source 1/out_degree weight into the edge set
        # ONCE (the reference-to-this was a per-round edges⋈out_deg join),
        # pinned so an expensive edge upstream (e.g. a near-dup pair join)
        # runs one time, and pre-hashed on the join key so every round's
        # join reuses its layout instead of re-exchanging the edge set.
        out_deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("__deg"))
        weighted = r.pin(
            edges.join(out_deg, src).select(
                F.col(src).alias("__src"),
                F.col(dst).alias("__dst"),
                (F.lit(1.0) / F.col("__deg")).alias("__w"),
            ),
            "__src",
        )

        def step(ranks: DataFrame) -> DataFrame:
            contribs = (
                weighted.join(ranks, F.col("__src") == F.col(node_col))
                .groupBy(F.col("__dst"))
                .agg(F.sum(F.col("rank") * F.col("__w")).alias("in_mass"))
                .withColumnRenamed("__dst", node_col)
            )
            # dangling mass = 1 - mass that flowed along edges. `contribs`
            # appears twice in the plan but shares one shuffle
            # (ReuseExchange), so there's no driver action and no second
            # aggregation pass.
            dmass = contribs.agg(
                (F.lit(1.0) - F.coalesce(F.sum("in_mass"), F.lit(0.0))).alias("__dm")
            )
            return (
                nodes.join(contribs, node_col, "left")
                .crossJoin(F.broadcast(dmass))
                .select(
                    node_col,
                    (
                        F.lit((1.0 - damping) / n)
                        + damping
                        * (F.coalesce(F.col("in_mass"), F.lit(0.0)) + F.col("__dm") / n)
                    ).alias("rank"),
                )
            )

        ranks = r.run(nodes.select(node_col, F.lit(1.0 / n).alias("rank")), step, iters)
        return ranks.select(node_col, F.round("rank", 6).alias("rank"))


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    2007, the deterministic variant): every node starts as its own
    label; each round every node adopts the most frequent label among
    its OUT-neighbors (the nodes its edges point at — for a directed
    edge set u→v, u adopts v's label, matching the unrolled-CTE
    oracle), ties broken by the SMALLEST label; isolated nodes keep
    their label. Returns (node, label) after `iters` rounds.

    The usual async/random-order LPA is irreproducible; synchronous
    updates + min-label ties make a fixed-iteration run bit-deterministic
    and therefore SQL-oracle-checkable — the same discipline as the
    unrolled-CTE pagerank oracle. Callers wanting undirected semantics
    pass both edge directions (as the registry entry does).

    Scale shape per round: one edges⋈labels join co-partitioned on the
    pre-hashed edge source, a (node, label) count bounded by the edge
    count, an arg-max per node, and a left join back to the node set;
    label state never touches the driver, localCheckpoint caps plan
    depth at one round. Same round structure as
    dedup.connected_components' min-label passes.
    """
    with Rounds(edges.sparkSession) as r:
        und = r.pin(
            edges.select(F.col(src).alias("__u"), F.col(dst).alias("__v"))
            .filter(F.col("__u") != F.col("__v"))
            .distinct(),
            "__v",
        )

        def step(labels: DataFrame) -> DataFrame:
            neigh = und.join(
                labels, und["__v"] == labels[node_col]
            ).select("__u", "label")
            counts = neigh.groupBy("__u", "label").agg(
                F.count(F.lit(1)).alias("cnt")
            )
            # most frequent label, smallest label on ties: max of
            # (cnt, -label) — labels are ids, negation stays in bigint
            best = (
                counts.groupBy("__u")
                .agg(
                    F.max(
                        F.struct(
                            F.col("cnt"), (-F.col("label")).alias("nl")
                        )
                    ).alias("b")
                )
                .select(
                    F.col("__u").alias(node_col),
                    (-F.col("b.nl")).alias("new_label"),
                )
            )
            return labels.join(best, node_col, "left").select(
                node_col,
                F.coalesce("new_label", "label").alias("label"),
            )

        return r.run(
            nodes.select(node_col, F.col(node_col).alias("label")), step, iters
        )


def triangle_counts(pairs, nodes):
    """(doc_id, n_triangles) — exact per-node triangle membership counts
    over an undirected pair graph, plus singles as zero; the local
    clustering signal (a near-dup cluster that is a clique vs a chain
    behaves very differently downstream).

    The classic ordered-wedge plan (MR triangle counting, Suri &
    Vassilvitskii WWW'11 — public): orient every edge low→high, build
    wedges (u<v<w with edges u-v, v-w... here u-v, u-w) by self-joining
    the oriented edge list on its LOW endpoint, then confirm the closing
    v-w edge with one more equi-join. Ordering guarantees each triangle
    is generated exactly once (at its smallest vertex), so no
    dedup/3x-correction pass; wedge volume is Σ_u deg_low(u)², bounded
    far below deg² for high-degree nodes because only low→high edges
    fan out. Three shuffles total, all equi-joins.

    pairs: (doc_a, doc_b) any extra columns ignored; nodes: (doc_id).
    """
    e = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("u"),
            F.greatest("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # wedges at the smallest vertex: u-v and u-w with v < w
    w1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    wedges = (
        w1.alias("x")
        .join(w1.alias("y"), (F.col("x.a") == F.col("y.a")) & (F.col("x.b") < F.col("y.b")))
        .select(F.col("x.a").alias("u"), F.col("x.b").alias("v"), F.col("y.b").alias("w"))
    )
    tri = wedges.join(
        e.select(F.col("u").alias("v"), F.col("v").alias("w")), ["v", "w"]
    )
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        nodes.join(per_node, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        )
    )


def degree_distribution(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree histogram of an undirected graph: how many nodes have
    degree d, for every observed d — the first diagnostic run on any
    link/similarity graph (a heavy-tailed near-dup graph means giant
    clusters are coming; a spiky bipartite degree histogram exposes
    crawler/bot hubs before they poison PageRank priors or dedup
    thresholds).

    Dedup to distinct undirected edges, count per endpoint, then count
    per degree: three map-side-combinable aggregates, monotonically
    shrinking (edges → nodes → distinct degrees). Self-loops are
    dropped. Output: (degree, n_nodes, pct_nodes rounded 6), tiny at
    any graph size.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))
    tot = hist.agg(F.sum("n_nodes").cast("double").alias("__t"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "degree",
        "n_nodes",
        F.round(F.col("n_nodes") / F.col("__t"), 6).alias("pct_nodes"),
    )


def common_neighbor_similarity(
    edges: DataFrame,
    min_common: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Node-pair similarity by shared neighborhoods — common-neighbor
    count and neighbor-set Jaccard for every src pair sharing at least
    `min_common` dst neighbors: the classic link-prediction /
    "customers who buy from the same suppliers" signal, and on a
    doc-similarity graph the cluster-merge candidate generator.

    The wedge plan of triangle_counts pointed at a bipartite edge set:
    pairs are generated by self-joining the edge list CO-PARTITIONED ON
    THE SHARED NEIGHBOR (dst) with src_a < src_b, so fan-out per dst is
    its degree², bounded by the dst-side degree distribution (inspect
    with degree_distribution first; a hub dst needs the df-cap guard of
    dedup's pair joins). The min_common cut runs inside the pair
    aggregate; degrees join back broadcast (|nodes| rows). Jaccard =
    common / (deg_a + deg_b − common), exact integer ratios rounded 6.

    Output: (node_a, node_b, n_common, jaccard r6), node_a < node_b.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    # explicit co-partition on the shared-neighbor key: the wedge join's
    # OUTPUT is degree² rows per dst — far larger than its inputs — but
    # AQE coalesces the exchanges on INPUT bytes, squeezing the expansion
    # onto a few tasks (measured 9 tasks / idle cores on the bench graph).
    # An explicit repartition is exempt from coalescing and the join
    # reuses it (same key), so this adds no exchange — the same fix as
    # temporal_join.interval_join.
    ep = e.repartition(e.sparkSession.sparkContext.defaultParallelism, "d")
    pairs = (
        ep.alias("a")
        .join(
            ep.alias("b"),
            (F.col("a.d") == F.col("b.d")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(
            F.col("a.s").alias("node_a"), F.col("b.s").alias("node_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    return (
        pairs.join(
            F.broadcast(deg.select(F.col("s").alias("node_a"), F.col("deg").alias("__da"))),
            "node_a",
        )
        .join(
            F.broadcast(deg.select(F.col("s").alias("node_b"), F.col("deg").alias("__db"))),
            "node_b",
        )
        .select(
            "node_a",
            "node_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("__da") + F.col("__db") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def adamic_adar(
    edges: DataFrame,
    min_common: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Adamic-Adar link-prediction score for src pairs in a bipartite
    edge set: sum over shared dst neighbors w of 1/ln(deg(w)) — the
    rare-shared-neighbor upweighting common_neighbor_similarity's raw
    count lacks (sharing one obscure customer says more than sharing
    ten universal ones). Adamic & Adar, "Friends and neighbors on the
    Web" (2003).

    Same wedge plan as common_neighbor_similarity: dst-side degrees
    join onto the edge list CO-PARTITIONED ON dst (the same shuffle key
    the pair self-join uses, so the degree join adds no extra
    exchange), pairs generate per shared dst with src_a < src_b, and
    the score sums inside the pair aggregate. Fan-out per dst is
    degree² — inspect degree_distribution first and df-cap hub dsts,
    exactly as dedup's pair joins do. Every shared neighbor has
    deg >= 2 by construction, so ln(deg) is never 0.

    Output: (node_a, node_b, n_common, aa_score rounded 6), node_a <
    node_b, pairs with n_common >= min_common.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    degd = e.groupBy("d").agg(F.count(F.lit(1)).alias("degd"))
    # co-partition on d ahead of the degree join AND the wedge self-join
    # (both key on d, one exchange serves both); exempt from AQE's
    # input-byte coalescing, which serialized the degree² pair expansion
    # onto ~9 tasks — see common_neighbor_similarity.
    ew = e.repartition(
        e.sparkSession.sparkContext.defaultParallelism, "d"
    ).join(degd, "d")
    return (
        ew.alias("a")
        .join(
            ew.alias("b"),
            (F.col("a.d") == F.col("b.d")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("node_a"), F.col("b.s").alias("node_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(
                F.sum(F.lit(1.0) / F.log(F.col("a.degd"))), 6
            ).alias("aa_score"),
        )
        .filter(F.col("n_common") >= min_common)
    )


def hits_scores(
    edges: DataFrame,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """HITS hub/authority scores on a (src → dst) edge set, fixed
    iterations (Kleinberg 1999): authority(d) = Σ hub(s) over in-edges,
    hub(s) = Σ authority(d) over out-edges, each side L2-normalized per
    half-step. On the supplier→customer graph hubs are breadth
    suppliers and authorities the customers breadth concentrates on —
    the mutually-reinforcing centrality PageRank's single score can't
    separate on a bipartite graph.

    kmeans/pagerank determinism discipline: every normalized score
    snaps to the round_to decimal grid per half-step, so distributed
    FP sum wiggle (~1e-15) never escapes into the next round and the
    whole trajectory is engine-independent → exact unrolled-CTE SQL
    oracle. Per round: two co-partitioned joins on the distinct edge
    set + two 1-row norm aggregates broadcast back; scores
    localCheckpoint per round to cap plan depth (the pagerank pattern).

    Output: (node, role 'hub'|'authority', score r6) for every node
    with at least one edge.
    """
    if iters < 1:
        raise ValueError("hits_scores: iters must be >= 1")
    with Rounds(edges.sparkSession) as r:
        # The two half-step joins key on DIFFERENT endpoints (s then d):
        # keep one copy of the distinct edge set pre-hashed per key, so
        # each join reuses the layout and only the small score frame
        # moves instead of 2·iters full edge shuffles.
        e_s = r.pin(
            edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct(),
            "s",
        )
        e_d = r.pin(e_s, "d")
        hubs = e_s.select("s").distinct()
        n_s = hubs.count()
        if n_s == 0:
            raise ValueError("hits_scores: empty edge set")

        h = hubs.withColumn("h", F.round(F.lit(1.0 / (n_s ** 0.5)), round_to))

        def _norm(df: DataFrame, col: str, eager: bool) -> DataFrame:
            nrm = df.agg(F.sqrt(F.sum(F.col(col) * F.col(col))).alias("__n"))
            return (
                df.crossJoin(F.broadcast(nrm))
                .select(
                    *[c for c in df.columns if c != col],
                    F.round(F.col(col) / F.col("__n"), round_to).alias(col),
                )
                .localCheckpoint(eager=eager)
            )

        # Not on Rounds.run: a round is two half-steps and the output
        # needs both. One ACTION per round (the katz/bpe lazy-checkpoint
        # discipline, guide §1.2(1)): the authority half-step checkpoints
        # lazily and materializes inside the hub half-step's eager
        # checkpoint — plan depth still capped at one half-step, half the
        # driver round-trips (measured 70 jobs for 4 iterations before).
        for _ in range(iters):
            a = _norm(
                e_s.join(h, "s").groupBy("d").agg(F.sum("h").alias("a")),
                "a", eager=False,
            )
            h = _norm(
                e_d.join(a, "d").groupBy("s").agg(F.sum("a").alias("h")),
                "h", eager=True,
            )
        return h.select(
            F.col("s").alias("node"), F.lit("hub").alias("role"),
            F.col("h").alias("score"),
        ).unionByName(
            a.select(
                F.col("d").alias("node"), F.lit("authority").alias("role"),
                F.col("a").alias("score"),
            )
        )


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core peeling with a FIXED round budget: repeatedly delete
    every node whose degree in the surviving subgraph is < k — after
    convergence the survivors are exactly the k-core (Seidman 1983,
    "Network structure and minimum degree"), the standard dense-
    subgraph filter (spam rings, bot cliques, well-connected buyer/
    supplier communities) that a plain degree cut misses because
    deleting one weak node can strand its neighbors.

    Peeling is CONFLUENT — the fixpoint is unique whatever the removal
    order — so synchronous rounds are bit-deterministic and a fixed
    `rounds` budget is SQL-oracle-checkable (the unrolled-CTE
    discipline of pagerank/label_propagation; if the peel converges
    earlier the remaining rounds are no-ops on both sides).

    Input is a directed edge list; it is symmetrized here, so degrees
    are undirected. Per round: one map-side-combinable degree
    aggregate + two semi joins, each co-partitioned on an endpoint —
    the edge set only ever SHRINKS, so round cost is monotone
    non-increasing; localCheckpoint caps plan depth at one round.
    Survivor state never touches the driver.

    Output: (node, degree bigint) for nodes alive after `rounds`
    peels, degree measured inside the surviving subgraph.
    """
    d = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    # Keep the survivor edge set hash-partitioned on `a` ACROSS rounds
    # with the loop's explicit partition count: the old checkpoint froze
    # the distinct's AQE-coalesced layout (measured 10-12 partitions for a
    # 137 MB string-keyed cache scanned twice per round — 2/3 of the
    # cores idle), and both the degree aggregate and the a-side semi
    # join re-exchanged it every round. Partitioned by `a`, the degree
    # groupBy and the first semi join are exchange-free; only the b-side
    # semi join and the layout restore move the (shrinking) survivor
    # set.
    r = Rounds(edges.sparkSession)

    def step(e: DataFrame) -> DataFrame:
        alive = (
            e.groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("a")
        )
        return r.layout(
            e.join(alive, "a", "semi").join(
                alive.select(F.col("a").alias("b")), "b", "semi"
            ),
            "a",
        )

    sym = d.union(d.select(F.col("b").alias("a"), F.col("a").alias("b")))
    e = r.run(r.layout(sym.distinct(), "a"), step, rounds)
    return e.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity of an edge set (Newman 2002, "Assortative
    mixing in networks"): the Pearson correlation between the
    src-side and dst-side degrees taken over EDGES. Positive = hubs
    link to hubs (robust core, redundant edges); negative = hubs fan
    out to leaves (hub-and-spoke — one hot key away from a skew
    problem, which is exactly why this is worth one cheap pass before
    pointing a pair join at a graph).

    Plan: distinct edges, one degree aggregate per side, each joined
    back CO-PARTITIONED on its own endpoint key (the same shuffle the
    degree count itself used), then a single six-moment aggregate and
    the closed-form correlation on one row. Degrees stay exact
    bigints; moments run in double (round 6).

    Output: one row (n_edges bigint, assortativity r6).
    """
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).distinct()
    ds = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg_s"))
    dd = e.groupBy("d").agg(F.count(F.lit(1)).alias("deg_d"))
    j = e.join(ds, "s").join(dd, "d")
    a = F.col("deg_s").cast("double")
    b = F.col("deg_d").cast("double")
    m = j.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(a).alias("sa"),
        F.sum(b).alias("sb"),
        F.sum(a * a).alias("saa"),
        F.sum(b * b).alias("sbb"),
        F.sum(a * b).alias("sab"),
    )
    n = F.col("n_edges").cast("double")
    num = n * F.col("sab") - F.col("sa") * F.col("sb")
    den = F.sqrt(
        (n * F.col("saa") - F.col("sa") * F.col("sa"))
        * (n * F.col("sbb") - F.col("sb") * F.col("sb"))
    )
    return m.select(
        "n_edges", F.round(F.try_divide(num, den), 6).alias("assortativity")
    )


def clustering_coefficient(pairs, nodes):
    """Per-node LOCAL clustering coefficient over an undirected pair
    graph: C_i = 2·T_i / (deg_i·(deg_i − 1)) — the fraction of a
    node's neighbor pairs that are themselves connected (Watts &
    Strogatz 1998). On a near-dup graph this separates true duplicate
    CLIQUES (C ≈ 1: safe to keep one representative) from chain-shaped
    borderline matches (C ≈ 0: transitive merging would over-delete) —
    the per-node refinement of triangle_counts' raw count.

    Same ordered-wedge triangle plan as triangle_counts, sharing ONE
    materialization of the deduped edge set (localCheckpoint) between
    the wedge join and the degree count, so the expensive upstream
    pair join is paid once. Nodes with degree < 2 have no neighbor
    pairs — their coefficient is NULL (undefined), degree and zero
    triangles still reported.

    pairs: (doc_a, doc_b); nodes: (doc_id).
    Output: (doc_id, n_triangles bigint, degree bigint, coeff r6).
    """
    e = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("u"),
            F.greatest("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    wedges = (
        e.alias("x")
        .join(
            e.alias("y"),
            (F.col("x.u") == F.col("y.u")) & (F.col("x.v") < F.col("y.v")),
        )
        .select(
            F.col("x.u").alias("u"),
            F.col("x.v").alias("v"),
            F.col("y.v").alias("w"),
        )
    )
    tri = wedges.join(
        e.select(F.col("u").alias("v"), F.col("v").alias("w")), ["v", "w"]
    )
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__t"))
    )
    deg = (
        e.select(F.col("u").alias("doc_id"))
        .union(e.select(F.col("v").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__d"))
    )
    return (
        nodes.join(per_node, "doc_id", "left")
        .join(deg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("__t", F.lit(0)).cast("long").alias("n_triangles"),
            F.coalesce("__d", F.lit(0)).cast("long").alias("degree"),
            F.round(
                F.when(
                    F.col("__d") >= 2,
                    2.0
                    * F.coalesce("__t", F.lit(0))
                    / (F.col("__d") * (F.col("__d") - 1)),
                ),
                6,
            ).alias("coeff"),
        )
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity Q of a node partition over an undirected edge
    set: Q = Σ_c (e_c/m − (d_c/2m)²) — within-community edge share
    minus the share expected under the degree-preserving null (Newman
    & Girvan 2004). THE one-number quality check on
    label_propagation's output before communities drive downstream
    decisions (Q ≈ 0 means the "communities" are no better than random
    — don't dedup/keep-best inside them).

    Plan: edges dedupe to u < v once (checkpointed — shared by the
    label join and the degree count), labels join on each endpoint
    co-partitioned on the node key, then everything collapses to
    per-community rows: e_c from the within filter, d_c from a
    degree⋈label join. The closing sum runs over |communities| rows.

    Output: one row (m bigint [undirected edges], n_communities
    bigint, modularity r6). An empty edge set yields NULL Q.
    """
    e = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    m = e.count()
    lab = labels.select(
        F.col(node_col).alias("n"), F.col(label_col).alias("l")
    )
    j = (
        e.join(lab.select(F.col("n").alias("u"), F.col("l").alias("lu")), "u")
        .join(lab.select(F.col("n").alias("v"), F.col("l").alias("lv")), "v")
    )
    within = (
        j.filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("l"))
        .agg(F.count(F.lit(1)).cast("long").alias("ec"))
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .union(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dc = (
        deg.join(lab, "n")
        .groupBy("l")
        .agg(F.sum("d").cast("long").alias("dsum"))
    )
    n_comm = lab.select("l").distinct().count()
    if m == 0:
        return labels.sparkSession.createDataFrame(
            [(0, n_comm, None)],
            "m long, n_communities long, modularity double",
        )
    term = F.coalesce(F.col("ec"), F.lit(0)) / F.lit(float(m)) - (
        F.col("dsum") / F.lit(2.0 * m)
    ) * (F.col("dsum") / F.lit(2.0 * m))
    return (
        dc.join(within, "l", "left")
        .groupBy()
        .agg(
            F.lit(m).cast("long").alias("m"),
            F.lit(n_comm).cast("long").alias("n_communities"),
            F.round(F.sum(term), 6).alias("modularity"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    source,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Single-source BFS hop distances with a FIXED round budget:
    after r rounds every node within r hops of `source` carries its
    exact shortest hop count (unreached nodes are absent) — the
    reachability/radius primitive under "everything within 3 hops of
    this compromised account" queries, and the missing companion to
    kcore/label_prop's round discipline. Fixed rounds → unrolled-CTE
    oracle; BFS layers are confluent (min of monotone candidates), so
    synchronous rounds are bit-deterministic.

    Per round: one co-partitioned frontier⋈edges join + a min
    aggregate over (old ∪ new) distances; localCheckpoint caps plan
    depth. The distance frame only grows up to the reachable set —
    never corpus-sized state on the driver.

    Output: (node, hops int), one row per reached node.
    """
    d = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    # pre-hash on the frontier join key: the distinct leaves the edge
    # set partitioned by (a, b), so every round's frontier⋈edges join
    # re-exchanged the FULL edge set — rounds× the only data-sized
    # shuffle in the operator. With the layout pinned, the per-round join
    # moves only the small distance frame (the pagerank/hits discipline,
    # guide §2.4).
    with Rounds(edges.sparkSession) as r:
        e = r.pin(
            d.union(d.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct(),
            "a",
        )
        dist = edges.sparkSession.createDataFrame(
            [(source, 0)],
            T.StructType(
                [
                    T.StructField("node", e.schema["a"].dataType),
                    T.StructField("hops", T.IntegerType()),
                ]
            ),
        )

        def step(dist: DataFrame) -> DataFrame:
            nxt = e.join(dist, e["a"] == dist["node"]).select(
                F.col("b").alias("node"), (F.col("hops") + 1).alias("hops")
            )
            return (
                dist.union(nxt)
                .groupBy("node")
                .agg(F.min("hops").cast("int").alias("hops"))
            )

        return r.run(dist, step, rounds)


def rich_club(
    edges: DataFrame,
    ks: tuple[int, ...] = (2, 4, 8),
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Rich-club coefficients: for each degree threshold k, the edge
    density AMONG nodes of degree > k, φ(k) = 2·E_k / (N_k(N_k − 1))
    (Zhou & Mondragón 2004) — do the hubs form their own dense club?
    A rising φ(k) means high-degree keys interconnect (one hot
    subgraph — pair joins over it explode together); flat/falling φ
    means hubs are independent and per-key salting is enough.

    One degree aggregate off the deduped undirected edge set
    (checkpointed — shared by every threshold), then per k: two
    degree-map joins onto the edges (co-partitioned on each endpoint)
    and a count. |ks| passes over the shrinking hub subsets, each a
    plain equi-join — never a pair join.

    Output: (k int, n_nodes bigint, n_edges bigint, phi r6); φ NULL
    when fewer than two nodes qualify.
    """
    d = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    e = (
        d.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .union(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("dg"))
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    rows = []
    for k in ks:
        hubs = deg.filter(F.col("dg") > k).select("n")
        nk = hubs.count()
        ek = (
            e.join(hubs.select(F.col("n").alias("u")), "u", "semi")
            .join(hubs.select(F.col("n").alias("v")), "v", "semi")
            .count()
        )
        rows.append((k, nk, ek))
    # phi rounds INSIDE Spark (HALF_UP — the cross-engine convention;
    # Python's round() is banker's and could disagree at .5 boundaries)
    return (
        spark.createDataFrame(rows, "k int, n_nodes long, n_edges long")
        .select(
            "k",
            "n_nodes",
            "n_edges",
            F.round(
                F.when(
                    F.col("n_nodes") >= 2,
                    2.0 * F.col("n_edges")
                    / (F.col("n_nodes") * (F.col("n_nodes") - 1)),
                ),
                6,
            ).alias("phi"),
        )
    )


def avg_neighbor_degree(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Average neighbor degree by degree class, k_nn(k) — degree
    assortativity's LOCAL view: for nodes of each degree k, the mean
    degree of their neighbors. A falling k_nn(k) curve shows WHERE
    hub-to-leaf mixing happens (which degree classes to salt/df-cap);
    the single assortativity coefficient can hide a curve that only
    turns at the top decile.

    Undirected dedupe once (checkpointed), degrees once, then the
    edge list joins its endpoints' degrees co-partitioned on each
    endpoint key and both edge directions feed one (k → avg) rollup —
    rows bounded by distinct degrees.

    Output: (degree bigint, n_nodes bigint, avg_neighbor_degree r6).
    """
    d = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    e = (
        d.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .union(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("dg"))
        .localCheckpoint(eager=True)
    )
    both = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    j = (
        both.join(deg.select(F.col("n").alias("u"), F.col("dg").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("dg").alias("dv")), "v")
    )
    per_node = j.groupBy("u", "du").agg(F.avg("dv").alias("knn"))
    counts = deg.groupBy("dg").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    curve = per_node.groupBy(F.col("du").alias("degree")).agg(
        F.round(F.avg("knn"), 6).alias("avg_neighbor_degree")
    )
    return (
        curve.join(
            counts.select(F.col("dg").alias("degree"), "n_nodes"),
            "degree",
        )
        .select("degree", "n_nodes", "avg_neighbor_degree")
    )


def preferential_attachment(
    edges: DataFrame,
    top_n: int = 50,
    k: int = 20,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Preferential-attachment link prediction among the top_n
    highest-degree src nodes: score(a, b) = deg(a)·deg(b) for every
    unordered candidate pair, flagged with whether the pair already
    shares a dst neighbor — the zero-signal baseline every fancier
    link predictor (common_neighbors, adamic_adar) must beat, and the
    one that needs NO neighborhood intersection at all.

    The candidate universe is capped at top_n nodes (ties broken by
    node id), so the pair join is top_n²/2 rows against a broadcast,
    and the has_common self-join runs over only the edges INCIDENT to
    those top_n candidates (a broadcast semi-join cuts the edge set
    before any pairing) — never dst-degree² over the full graph, which
    the sf1 ladder measured as a near-linear full-data pass before
    this cut (exponent 0.83 → re-measured after, BASELINE.md). The
    only full-data passes are the distinct and the degree aggregate.
    Output: top k pairs by score (ties → lexical pair order).

    Output: (node_a, node_b, deg_a, deg_b bigint, pa_score bigint,
    has_common boolean).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    deg = e.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    top = deg.orderBy(F.col("deg").desc(), F.col("s").asc()).limit(top_n)
    pairs = (
        top.alias("a")
        .join(F.broadcast(top.alias("b")), F.col("a.s") < F.col("b.s"))
        .select(
            F.col("a.s").alias("node_a"),
            F.col("b.s").alias("node_b"),
            F.col("a.deg").alias("deg_a"),
            F.col("b.deg").alias("deg_b"),
            (F.col("a.deg") * F.col("b.deg")).cast("long").alias("pa_score"),
        )
    )
    et = e.join(F.broadcast(top.select("s")), "s")
    common = (
        et.alias("x")
        .join(et.alias("y"), (F.col("x.d") == F.col("y.d")) & (F.col("x.s") < F.col("y.s")))
        .select(F.col("x.s").alias("node_a"), F.col("y.s").alias("node_b"))
        .distinct()
        .withColumn("has_common", F.lit(True))
    )
    return (
        pairs.join(common, ["node_a", "node_b"], "left")
        .select(
            "node_a", "node_b", "deg_a", "deg_b", "pa_score",
            F.coalesce("has_common", F.lit(False)).alias("has_common"),
        )
        .orderBy(F.col("pa_score").desc(), "node_a", "node_b")
        .limit(k)
    )


def katz_centrality(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 4,
    alpha: float = 0.05,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Katz centrality by the standard fixed-point iteration
    x ← 1 + α·Aᵀx (β = 1): each node's score counts walks of every
    length INTO it, geometrically damped — the centrality that, unlike
    PageRank, doesn't dilute a source's influence across its out-edges
    (an endorsement from a prolific node still counts fully). α must
    sit below 1/λ_max for convergence; iters bounds the walk length
    explicitly (the registry pins iters so the oracle can unroll).

    pagerank's plan discipline: the edge set pre-hashes on src once
    and is pinned; each round is one join + aggregate ending in one
    action, an eager localCheckpoint capping plan depth. Isolated nodes keep the β = 1
    base score via the left join.

    Output: (node, katz rounded 6).
    """
    with Rounds(edges.sparkSession) as r:
        e = r.pin(
            edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst")),
            "__src",
        )
        # pinned like pagerank's: the per-round left join re-reads the
        # vertex set, and an unpinned `nodes` re-executed its FULL
        # upstream lineage every round (the registry entry derives it from
        # the edge join + two distincts — measured ~1 s per round at sf0.1)
        nodes = r.pin(nodes)

        def step(x: DataFrame) -> DataFrame:
            inw = (
                e.join(x, F.col("__src") == F.col(node_col))
                .groupBy("__dst")
                .agg(F.sum("katz").alias("in_sum"))
                .withColumnRenamed("__dst", node_col)
            )
            return nodes.join(inw, node_col, "left").select(
                node_col,
                (
                    F.lit(1.0) + alpha * F.coalesce(F.col("in_sum"), F.lit(0.0))
                ).alias("katz"),
            )

        x = r.run(nodes.select(node_col, F.lit(1.0).alias("katz")), step, iters)
        return x.select(node_col, F.round("katz", 6).alias("katz"))
