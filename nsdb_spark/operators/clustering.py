"""Iterative k-means (Lloyd's) over an embedding column — the centroid
TRAINING step feeding the IVF index in similarity.py (ivf_assign /
ivf_topk currently take externally supplied centroids; this produces
data-adapted ones).

Spark-first shape per iteration:
- assignment: argmin of squared L2 against the centroid list carried as
  literal arrays (broadcast by construction) — a pure codegen projection,
  no shuffle, no UDF;
- update: posexplode the vector and average per (cell, dim) — ONE shuffle
  of k×dim partial sums (map-side combine collapses each task to at most
  k×dim rows regardless of input size), then a k×dim-row collect to the
  driver. At 100 TB this is the canonical mini-batch-free Lloyd's layout:
  per-iteration cost = one scan + one tiny shuffle.

Determinism: init is the first k vectors by vec_id; argmin ties break on
the lower cell index (array_min on (dist, cell) structs). FP sums across
partitions can wiggle centroids in the last ulp; with round_to set, every
centroid coordinate is snapped to a fixed decimal grid after init and
after each update, which makes the whole fixed-iteration trajectory
engine-independent — the registry entry is hash-checked against a DuckDB
oracle that unrolls the same iterations into chained CTEs (per round:
distance join on the exploded dims, argmin with the same (dist, cell)
tie-break, AVG re-centering, keep-old on empty cells).
"""
from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rounds import Rounds
from .similarity import _as_double, _lit_vec


def _sq_dist(v: Column, c: list[float]) -> Column:
    # Deliberately the zip_with+aggregate fold, NOT a flat unrolled sum:
    # the fold's expression tree is O(dim) nodes with ONE literal array,
    # so Catalyst analysis and codegen stay cheap even though evaluation
    # is an interpreted HigherOrderFunction. The unrolled form was tried
    # (round 8) and regressed kmeans entries 5-15x: k x dim x 4 nodes per
    # candidate re-analyzed and re-codegen'd EVERY Lloyd iteration
    # (fresh centroid literals each round), with the generated method
    # blowing the JIT limit into interpreted fallback anyway.
    return F.aggregate(
        F.zip_with(v, _lit_vec(c), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_cells(
    emb: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Adds `cell` (nearest centroid by L2) and `sq_dist`.

    The double-cast vector and the argmin struct are hoisted into their
    own columns (`__vd`, `__best`): inlining them re-evaluated the cast
    per centroid and the whole k×dim candidate array once per output
    column. CollapseProject keeps non-cheap expressions referenced more
    than once in their own projection, so the hoist survives the
    optimizer. Values are unchanged."""
    cands = [
        F.struct(_sq_dist(F.col("__vd"), c).alias("d"), F.lit(ci).alias("cell"))
        for ci, c in enumerate(centroids)
    ]
    best = F.array_min(F.array(*cands))
    return (
        emb.withColumn("__vd", _as_double(vec_col))
        .withColumn("__best", best)
        .withColumn("cell", F.col("__best")["cell"])
        .withColumn("sq_dist", F.col("__best")["d"])
        .drop("__vd", "__best")
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = None,
) -> list[list[float]]:
    """Lloyd's iterations; returns the trained centroid list (k × dim).

    Empty cells keep their previous centroid (no re-seeding — keeps the
    run deterministic). `round_to` rounds every centroid coordinate
    (init and each update) to that many decimals: distributed FP sums
    wiggle the mean in the last ulp, so snapping to a grid far coarser
    than the wiggle (but far finer than the data) makes the whole
    trajectory bit-reproducible across engines — that's what lets the
    registry entry carry an exact SQL oracle instead of a rows-only
    check. Leave None for the IVF-training path, which feeds a
    recall-tested index and doesn't need cross-engine determinism."""
    # cast once and cache: every iteration re-reads the vectors, so paying
    # the parquet scan + float→double cast per iteration would multiply
    # the dominant cost by `iters`. _parallelize spreads a one-split scan
    # across cores (every per-iteration pass below is narrow, so it would
    # otherwise run single-task; no-op at real scale); the distributed
    # per-(cell,dim) avg wiggles only in the last ulp, which round_to
    # snapping absorbs by design.
    from .dedup import _parallelize

    with Rounds(emb.sparkSession) as r:
        vecs = r.pin(_parallelize(emb.select(id_col, _as_double(vec_col).alias("__v"))))
        snap = (lambda x: round(x, round_to)) if round_to is not None else float
        first = vecs.orderBy(id_col).limit(k).select("__v").collect()
        centroids = [[snap(float(x)) for x in row["__v"]] for row in first]
        if len(centroids) < k:
            raise ValueError(
                f"kmeans_fit: k={k} centroids need at least k vectors, "
                f"got {len(centroids)}"
            )
        dim = len(centroids[0])
        for _ in range(iters):
            assigned = assign_cells(vecs, centroids, "__v")
            means = (
                assigned.select("cell", F.posexplode("__v").alias("pos", "x"))
                .groupBy("cell", "pos")
                .agg(F.avg("x").alias("m"))
                .collect()
            )
            nxt = [list(c) for c in centroids]
            touched = set()
            for row in means:
                nxt[row["cell"]][row["pos"]] = snap(float(row["m"]))
                touched.add(row["cell"])
            if not touched:
                break
            centroids = nxt
            assert all(len(c) == dim for c in centroids)
        return centroids


def kmeans_summary(
    emb: DataFrame,
    k: int = 8,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = 6,
) -> DataFrame:
    """Train + report: (cell, n_vecs, inertia rounded 3, rms_dist rounded
    3) per non-empty cell — the registry-facing summary of the fit. The
    default round_to=6 centroid snapping makes the trajectory engine-
    independent, so the entry is hash-checked against an unrolled-CTE
    SQL oracle (the graph_pagerank discipline)."""
    centroids = kmeans_fit(emb, k, iters, vec_col, id_col, round_to=round_to)
    assigned = assign_cells(emb, centroids, vec_col)
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("sq_dist"), 3).alias("inertia"),
        F.round(F.sqrt(F.avg("sq_dist")), 3).alias("rms_dist"),
    )


def ivf_centroids(
    emb: DataFrame, k: int = 16, iters: int = 3, vec_col: str = "embedding"
) -> list[list[float]]:
    """Trained centroids for similarity.ivf_topk — normalized to unit
    length so cosine-based cell probing matches the L2 training geometry
    (for unit-norm data, argmax cosine ≡ argmin L2)."""
    out = []
    for c in kmeans_fit(emb, k, iters, vec_col):
        n = math.sqrt(sum(x * x for x in c)) or 1.0
        out.append([x / n for x in c])
    return out


# ---------------------------------------------------------------- PCA


def pca_fit(
    emb: DataFrame,
    k: int,
    vec_col: str = "embedding",
) -> tuple[list[float], list[list[float]], list[float]]:
    """Distributed PCA fit: (mean, components [k x dim], explained
    variance per component, descending).

    The classic Spark shape for second-moment statistics: each Arrow
    batch reduces to its (dim x dim) Gram matrix + column sum + count
    (numpy BLAS — a few kilobytes per batch regardless of rows), the
    driver sums the partials into the exact covariance and runs `eigh`
    on the dim x dim matrix (dim <= a few thousand — driver-trivial;
    the DATA never leaves the executors and is read exactly once).
    Deterministic: covariance is an exact sum of partials reduced in
    sorted partition order, eigh is deterministic for a fixed matrix;
    each component's sign is fixed by making its largest-|x| entry
    positive (eigenvector sign is otherwise arbitrary).
    """
    import numpy as np
    import pandas as pd

    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError("PCA needs at least 2 vectors")
    dim = len(first[0])

    def partials(batches):
        # ONE partial per PARTITION, accumulated across its Arrow batches
        # — yielding per batch would collect O(n_batches x dim^2) Gram
        # rows to the driver (hundreds of GB at billions of rows), not
        # the O(partitions x dim^2) the design intends
        n = 0
        s = np.zeros(dim, dtype=np.float64)
        g = np.zeros((dim, dim), dtype=np.float64)
        for pdf in batches:
            X = np.stack(pdf[vec_col].map(lambda x: np.asarray(x, dtype=np.float64)).values)
            n += len(X)
            s += X.sum(axis=0)
            g += X.T @ X
        if n:
            yield pd.DataFrame({"n": [n], "s": [s], "g": [g.reshape(-1)]})

    rows = (
        emb.select(vec_col)
        .mapInPandas(partials, "n long, s array<double>, g array<double>")
        .collect()
    )
    n = sum(r["n"] for r in rows)
    if n < 2:
        raise ValueError("PCA needs at least 2 vectors")
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    g = np.sum([np.asarray(r["g"]).reshape(dim, dim) for r in rows], axis=0)
    mean = s / n
    cov = (g - np.outer(s, mean) - np.outer(mean, s) + n * np.outer(mean, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = []
    var = []
    for idx in order:
        v = evecs[:, idx]
        j = int(np.abs(v).argmax())
        if v[j] < 0:
            v = -v
        comps.append([float(x) for x in v])
        var.append(float(max(evals[idx], 0.0)))
    return [float(x) for x in mean], comps, var


def pca_project(
    emb: DataFrame,
    mean: list[float],
    components: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "proj",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id_col, proj array<double>): center + project onto the fitted
    components — pure JVM fold expressions (one scan, no shuffle, no
    Python on the read path; the model rides as literals)."""
    from .similarity import _as_double, _lit_vec

    v = _as_double(vec_col)
    centered = F.zip_with(v, _lit_vec(mean), lambda x, m: x - m)
    cols = []
    for comp in components:
        dot = F.aggregate(
            F.zip_with(centered, _lit_vec(comp), lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(F.round(dot, 6))
    return emb.select(id_col, F.array(*cols).alias(out_col))


def pca_whiten(
    emb: DataFrame,
    mean: list[float],
    components: list[list[float]],
    variances: list[float],
    eps: float = 1e-9,
    vec_col: str = "embedding",
    out_col: str = "white",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id_col, white array<double>): PCA whitening — center, project,
    and scale each component by 1/sqrt(variance + eps) so the output has
    identity covariance. The standard embedding-preprocessing step
    before cosine retrieval / clustering (dominant directions stop
    swamping the metric). Same serving shape as pca_project: the model
    rides as literals, pure JVM fold per component, one scan."""
    import math

    from .similarity import _as_double, _lit_vec

    v = _as_double(vec_col)
    centered = F.zip_with(v, _lit_vec(mean), lambda x, m: x - m)
    cols = []
    for comp, var in zip(components, variances):
        scale = 1.0 / math.sqrt(var + eps)
        dot = F.aggregate(
            F.zip_with(centered, _lit_vec(comp), lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(F.round(dot * F.lit(scale), 6))
    return emb.select(id_col, F.array(*cols).alias(out_col))


def pca_invariants(
    emb: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One-row audit of a PCA fit+projection through its ALGEBRAIC
    INVARIANTS — the oracle-checkable projection of an eigendecomposition
    no SQL engine can run directly:

    - trace_total: Σ all eigenvalues of the sample covariance. By trace
      invariance this equals Σ_dims var_samp(x_i), which ANY SQL engine
      computes from the raw table — a genuinely independent cross-check
      of the distributed Gram assembly + eigh (a wrong mean pass, a
      dropped partition partial, or a 1/n-vs-1/(n−1) slip all move it).
    - orthon_ok: max |C·Cᵀ − I_k| < 1e-8 over the fitted components.
    - var_order_ok: fitted eigenvalues non-increasing and ≥ 0.
    - proj_var_ok: per-component var_samp of the ACTUAL pca_project
      output matches the fitted eigenvalue within 1e-5·(1+λ) — ties the
      serving path (JVM fold over literals) back to the fit. Projected
      coords round at 6, so the tolerance is loose enough for grid
      snap + var accumulation, tight enough to catch any real defect.

    Plan shape: pca_fit's single corpus pass, one more narrow var_samp
    aggregate over the k projected columns — both bounded exchanges.

    Output: (n_rows, dim, k bigint, trace_total r6, orthon_ok,
    var_order_ok, proj_var_ok boolean).
    """
    import numpy as np

    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError("PCA needs at least 2 vectors")
    dim = len(first[0])
    # full-spectrum fit: trace needs ALL eigenvalues; the top-k slice is
    # the served model
    mean, comps_all, var_all = pca_fit(emb, k=dim, vec_col=vec_col)
    comps, var = comps_all[:k], var_all[:k]
    trace_total = float(np.sum(var_all))
    C = np.asarray(comps, dtype=np.float64)
    orthon_ok = bool(np.abs(C @ C.T - np.eye(k)).max() < 1e-8)
    var_order_ok = bool(
        all(a >= b for a, b in zip(var, var[1:])) and min(var) >= 0.0
    )
    proj = pca_project(emb, mean, comps, vec_col=vec_col, id_col=id_col)
    pv = proj.select(
        *[
            F.var_samp(F.col("proj")[i]).alias(f"v{i}")
            for i in range(k)
        ],
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    checks = [
        (F.abs(F.col(f"v{i}") - F.lit(var[i])) < 1e-5 * (1.0 + var[i]))
        for i in range(k)
    ]
    proj_var_ok = checks[0]
    for c in checks[1:]:
        proj_var_ok = proj_var_ok & c
    return pv.select(
        "n_rows",
        F.lit(dim).cast("long").alias("dim"),
        F.lit(k).cast("long").alias("k"),
        F.round(F.lit(trace_total), 6).alias("trace_total"),
        F.lit(orthon_ok).alias("orthon_ok"),
        F.lit(var_order_ok).alias("var_order_ok"),
        proj_var_ok.alias("proj_var_ok"),
    )


def silhouette_by_cell(
    emb: DataFrame,
    k: int = 8,
    iters: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = 6,
) -> DataFrame:
    """Simplified (centroid-based) silhouette per k-means cell: for each
    vector a = distance to its OWN centroid, b = distance to the nearest
    OTHER centroid, s = (b − a)/b ∈ [0, 1) — the cluster-quality audit
    kmeans_summary's inertia can't give (inertia always improves with k;
    silhouette peaks where the clustering is actually crisp). The exact
    silhouette needs all O(n²) pairwise distances; the centroid form is
    the standard scale substitute (Hripcsak's "simplified silhouette")
    and needs only the k-distance row every assignment already computes.

    Same trained trajectory as kmeans_summary (grid-snapped centroids →
    engine-independent, SQL-oracle-checkable); per-vector distances stay
    in one narrow projection (no shuffle beyond kmeans_fit's own), the
    per-cell rollup is one map-side-combinable aggregate. b ≥ a by
    construction, so s = (√b − √a)/√b with a zero-guard; per-vector s
    rounds at 6 before the cell average (both engines mean identical
    rounded values).

    Output: (cell int, n_vecs, avg_silhouette rounded 6).
    """
    if k < 2:
        raise ValueError("silhouette_by_cell: needs k >= 2 cells")
    centroids = kmeans_fit(emb, k, iters, vec_col, id_col, round_to=round_to)
    cands = [
        F.struct(_sq_dist(F.col("__vd"), c).alias("d"), F.lit(ci).alias("cell"))
        for ci, c in enumerate(centroids)
    ]
    # struct sort orders by (d, cell) — identical tie-break to the
    # oracle's row_number(ORDER BY d, cell); element 2 is the nearest
    # OTHER centroid even under exact ties (then s = 0).
    # The sorted candidate array is hoisted to a column (`__ds`): the old
    # shape inlined the whole k×dim sort_array tree into every reference
    # (cell, a_sq, and b_sq three times — 5 evaluations per row).
    ds = F.col("__ds")
    a_sq, b_sq = ds[0]["d"], ds[1]["d"]
    sil = (
        F.when(
            b_sq > 0,
            F.round((F.sqrt(b_sq) - F.sqrt(a_sq)) / F.sqrt(b_sq), 6),
        )
        .otherwise(F.lit(0.0))
    )
    per = (
        emb.withColumn("__vd", _as_double(vec_col))
        .withColumn("__ds", F.sort_array(F.array(*cands)))
        .select(ds[0]["cell"].alias("cell"), sil.alias("sil"))
    )
    return per.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.avg("sil"), 6).alias("avg_silhouette"),
    )


def cluster_purity(
    emb: DataFrame,
    k: int = 8,
    iters: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    round_to: int | None = 6,
) -> DataFrame:
    """External cluster validation: train the same grid-snapped Lloyd's
    trajectory as kmeans_summary, then score the assignment against the
    ground-truth `label_col` — purity (Σ per-cell majority / N) and NMI
    (I(cell;label)/√(H(cell)·H(label))) — "did unsupervised structure
    recover the labels?", the go/no-go before trusting k-means cells for
    pseudo-labeling or stratified selection.

    After the bounded training collects, everything reduces to ONE
    (cell × label) contingency aggregate (≤ k·|labels| rows); purity,
    entropies, and mutual information are closed form on that grid.

    Output: one row (k int, n bigint, n_cells int, purity r6, nmi r6).
    """
    centroids = kmeans_fit(emb, k, iters, vec_col, id_col, round_to=round_to)
    assigned = assign_cells(emb, centroids, vec_col).filter(
        F.col(label_col).isNotNull()
    )
    # NOTE (r9, measured): the grid subtree appears under 7 broadcast
    # frames below, but they all live in ONE physical plan, so
    # ReuseExchange already shares the assign+aggregate exchange — an
    # explicit localCheckpoint was A/B'd and changed neither the job
    # (30) nor the task (216) count. The 30-vs-14-job gap to
    # kmeans_cells is inherent broadcast materializations of the
    # closed-form rollups, each trivially small.
    grid = assigned.groupBy("cell", label_col).agg(
        F.count(F.lit(1)).cast("double").alias("nij")
    )
    tot = grid.groupBy().agg(F.sum("nij").alias("nn"))
    cellm = grid.groupBy("cell").agg(
        F.sum("nij").alias("ni"), F.max("nij").alias("maj")
    )
    labm = grid.groupBy(label_col).agg(F.sum("nij").alias("nj"))
    j = (
        grid.join(F.broadcast(cellm), "cell")
        .join(F.broadcast(labm), label_col)
        .crossJoin(F.broadcast(tot))
    )
    nn = F.col("nn")
    mi_term = (F.col("nij") / nn) * F.log(
        nn * F.col("nij") / (F.col("ni") * F.col("nj"))
    )
    out = j.groupBy().agg(
        F.first("nn").alias("nn"),
        F.sum(mi_term).alias("mi"),
    )
    hc = cellm.crossJoin(F.broadcast(tot)).groupBy().agg(
        F.sum(-(F.col("ni") / F.col("nn")) * F.log(F.col("ni") / F.col("nn"))).alias("hc")
    )
    hl = labm.crossJoin(F.broadcast(tot)).groupBy().agg(
        F.sum(-(F.col("nj") / F.col("nn")) * F.log(F.col("nj") / F.col("nn"))).alias("hl")
    )
    pur = cellm.groupBy().agg(
        F.sum("maj").alias("smaj"),
        F.count(F.lit(1)).cast("int").alias("n_cells"),
    )
    final = (
        out.crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(pur))
    )
    return final.select(
        F.lit(k).cast("int").alias("k"),
        F.col("nn").cast("long").alias("n"),
        "n_cells",
        F.round(F.col("smaj") / F.col("nn"), 6).alias("purity"),
        F.round(
            F.try_divide(F.col("mi"), F.sqrt(F.col("hc") * F.col("hl"))), 6
        ).alias("nmi"),
    )
