"""Product quantization (PQ) for approximate nearest neighbour at scale.

IVF (similarity.ivf_topk) prunes WHICH vectors are scanned; PQ shrinks
WHAT is scanned: each D-dim float vector is split into `m` subspaces and
each sub-vector replaced by the id of its nearest codebook centroid —
m bytes-ish per vector instead of 4·D (with ks=256 and D=64 that is 8
bytes vs 256, a 32× compression). Queries run Asymmetric Distance
Computation (ADC, Jégou et al. 2011): one tiny m×ks lookup table of
exact query-to-centroid distances is built on the driver, and each
row's approximate distance is m table lookups summed — no float vector
is ever read at query time.

Spark-first layout:
- training runs ONE distributed Lloyd's loop covering all m subspaces
  (one job per iteration) on a SAMPLE (FAISS-style — codebooks need
  thousands of points, not billions; the sample fraction is the scale
  knob);
- encoding is one Arrow-batched mapInPandas pass (argmin over (B, ks)
  numpy distances per subspace — m·ks·B flops vectorized, never a
  per-row Python loop);
- the ADC scan reads ONLY (id, codes): at 100 TB the scan shrinks by
  the compression factor, and the lookup table broadcasts as a closure
  (m×ks float64 ≈ kilobytes). Top-k is TakeOrdered, never a global sort.

Training is iterative (not SQL-expressible) — like kmeans_cells the
registry entry is rows-only checked, with recall vs the exact scan
asserted in tests.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import Rounds
from .similarity import _as_double


def _unit(emb: DataFrame, vec_col: str) -> DataFrame:
    """L2-normalize the vector column (JVM fold, one narrow projection).

    The cosine-contract guard: ADC shortlists rank by squared L2, which
    orders like the exact cosine re-rank ONLY on unit vectors — on an
    unnormalized corpus a large-norm, perfectly-aligned vector would sit
    far down the L2 shortlist and silently never reach the re-rank. The
    search entry points normalize once up front (cosine itself is
    norm-invariant, so results on already-unit corpora are unchanged).
    Zero-norm floored like similarity._norm."""
    from .similarity import _norm

    v = _as_double(vec_col)
    return emb.withColumn(vec_col, F.transform(v, lambda x: x / _norm(v)))


def pq_train(
    emb: DataFrame,
    m: int = 8,
    ks: int = 16,
    iters: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_size: int = 100_000,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: returns m lists of ks centroids of
    dim D/m. D must divide evenly by m.

    FAISS-style training contract: codebooks need a bounded SAMPLE
    (thousands of points per centroid), never the full corpus — so the
    cluster's only job is drawing `train_size` rows by smallest
    xxhash64(id) (deterministic, partition-layout-invariant, a TakeOrdered
    heap per partition), and Lloyd's runs vectorized in numpy on the
    driver (train_size × dim doubles; 100k × 1024-dim ≈ 800 MB is the
    practical ceiling — lower train_size for wider vectors). Distributing
    the iteration itself costs a full scan + shuffle + expression
    recompile per iteration and pays off only if the codebooks must see
    every row, which PQ training never needs. Encoding and the ADC scan —
    the parts that DO touch every row — stay distributed (Arrow batches).

    Deterministic: init is the first ks sample vectors by id; numpy
    argmin ties take the lowest cell; empty cells keep their centroid."""
    import numpy as np

    first = emb.select(_as_double(vec_col).alias("v")).first()
    if first is None or first["v"] is None:
        raise ValueError("cannot train PQ codebooks on an empty vector table")
    dim = len(first["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rows = (
        emb.select(id_col, _as_double(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc())
        .limit(train_size)
        .collect()
    )
    if len(rows) < ks:
        raise ValueError(f"need at least ks={ks} vectors to train")
    rows.sort(key=lambda r: r[id_col])
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    codebooks = []
    for j in range(m):
        Xj = np.ascontiguousarray(X[:, j * sub : (j + 1) * sub])
        C = Xj[:ks].copy()
        for _ in range(iters):
            d = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(ks):  # empty cells keep their previous centroid
                hit = a == c
                if hit.any():
                    C[c] = Xj[hit].mean(axis=0)
        codebooks.append([[float(x) for x in c] for c in C])
    return codebooks


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    carry: dict[str, str] | None = None,
) -> DataFrame:
    """(id, codes array<int>[, carry...]) — each vector reduced to m
    codebook ids. One Arrow-batched pass; at scale this is the write-side
    step whose output is stored alongside (or instead of) the raw
    vectors. `carry` ({column: ddl_type}) copies columns through the
    SAME pass — the IVF-PQ paths carry `cell` this way instead of
    re-attaching it with a corpus-wide join on id afterwards."""
    import numpy as np
    import pandas as pd

    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    m = len(cbs)
    sub = cbs[0].shape[1]
    carry = carry or {}

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:  # filtered scans deliver empty Arrow batches
                continue
            vecs = np.stack(
                pdf[vec_col].map(lambda x: np.asarray(x, dtype=np.float64)).values
            )
            codes = np.empty((len(vecs), m), dtype=np.int32)
            for j in range(m):
                seg = vecs[:, j * sub : (j + 1) * sub]
                # (B, ks) squared distances, argmin ties -> lowest code
                d = ((seg[:, None, :] - cbs[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            out = {id_col: pdf[id_col], "codes": list(codes)}
            for c in carry:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    carry_ddl = "".join(f", {c} {t}" for c, t in carry.items())
    return emb.select(id_col, vec_col, *carry).mapInPandas(
        encode, f"{id_col} long, codes array<int>{carry_ddl}"
    )


def pq_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over PQ codes: (id, adist rounded 6, rank) by ascending
    approximate squared L2. The m×ks distance table is computed once on
    the driver; the scan is m lookups + a sum per row, Arrow-batched."""
    import numpy as np
    import pandas as pd

    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    m = len(cbs)
    sub = cbs[0].shape[1]
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape[0] != m * sub:
        raise ValueError(f"query dim {q.shape[0]} != {m * sub}")
    # T[j, c] = ||q_j - codebook[j][c]||^2  (exact, driver-side, tiny)
    table = np.stack(
        [((q[j * sub : (j + 1) * sub][None, :] - cbs[j]) ** 2).sum(axis=1) for j in range(m)]
    )

    def score(batches):
        cols = np.arange(m)
        for pdf in batches:
            if len(pdf) == 0:  # filtered scans deliver empty Arrow batches
                continue
            codes = np.stack(pdf["codes"].map(np.asarray).values)
            adist = table[cols[None, :], codes].sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "adist": adist})

    scored = encoded.select(id_col, "codes").mapInPandas(
        score, f"{id_col} long, adist double"
    )
    top = scored.orderBy(F.col("adist").asc(), F.col(id_col).asc()).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("adist").asc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        id_col, F.round("adist", 6).alias("adist"), "rank"
    )


def pq_topk_rerank(
    emb: DataFrame,
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage PQ search (the production IVF-PQ pattern, Jégou et al.
    2011 §V): the cheap ADC scan over codes produces a `shortlist` of
    candidates, then ONLY those rows' raw vectors are read for an exact
    cosine re-rank. The shortlist is an absolute size (not a fraction),
    so at 100 TB the expensive exact stage touches a constant ~100
    vectors while the full scan never leaves the compressed codes; the
    shortlist ids broadcast into a semi join against the vector store
    (at scale: a parquet point-lookup by id-sorted bucketing).

    Output (id, cosine rounded 6, rank) — same contract as the exact
    scan, so recall is directly measurable against cosine_topk."""
    from .similarity import cosine_topk

    cand = pq_topk(encoded, codebooks, query_vec, k=shortlist, id_col=id_col)
    hits = emb.join(F.broadcast(cand.select(id_col)), id_col, "semi")
    return cosine_topk(hits, query_vec, k, vec_col)


def pq_search(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    ks: int = 16,
    iters: int = 4,
    shortlist: int | None = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_size: int = 100_000,
) -> DataFrame:
    """Train + encode + search in one call (registry-facing). In a real
    deployment train/encode happen at write time; this end-to-end form
    exists so correctness and recall are checkable from one entry point.
    shortlist=None returns the raw ADC ranking (no exact re-rank).

    The re-rank stage scores the RAW vectors (not the unit-normalized
    copies the codebooks train on): cosine is scale-invariant so the
    ranking is identical, but the raw-vector arithmetic is bit-identical
    to a brute-force scan — which is what makes the exact-top-k oracle
    bind on this entry (shortlist ⊇ exact top-k at validation SFs,
    recall pinned in tests/test_operators.py)."""
    raw = emb
    emb = _unit(emb, vec_col)
    cbs = pq_train(emb, m, ks, iters, vec_col, id_col, train_size)
    enc = pq_encode(emb, cbs, vec_col, id_col)
    if shortlist is None:
        return pq_topk(enc, cbs, query_vec, k, id_col)
    return pq_topk_rerank(
        raw, enc, cbs, query_vec, k, shortlist, vec_col, id_col
    )


def _ivfpq_query_side(query_vec, centroids, cbs, nprobe, id_col="vec_id"):
    """(probes, per-cell ADC tables, scoring mapInPandas fn) — the
    driver-side query preparation shared by the inline and stored-index
    IVF-PQ paths."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q)) or 1.0
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0
    order = np.argsort(-(C @ q) / (cn * qn), kind="stable")
    probes = [int(c) for c in order[:nprobe]]
    cbs_np = [np.asarray(cb, dtype=np.float64) for cb in cbs]
    m = len(cbs_np)
    sub = cbs_np[0].shape[1]
    tables = {}
    for c in probes:
        r = q - C[c]
        tables[c] = np.stack(
            [((r[j * sub : (j + 1) * sub][None, :] - cbs_np[j]) ** 2).sum(axis=1)
             for j in range(m)]
        )

    def score(batches):
        cols = np.arange(m)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(pdf["codes"].map(np.asarray).values)
            cells = pdf["cell"].to_numpy()
            adist = np.empty(len(pdf), dtype=np.float64)
            for c in np.unique(cells):
                mask = cells == c
                adist[mask] = tables[int(c)][cols[None, :], codes[mask]].sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "adist": adist})

    return probes, tables, score



def _residuals(emb, centroids, vec_col: str, id_col: str):
    """(id, cell, resid) — vectors minus their assigned coarse centroid,
    one Arrow pass. The ONE residual computation shared by the inline
    search and the stored-index writer: ivfpq_topk_indexed's "results
    match ivfpq_search" contract requires both paths to produce
    bit-identical residuals, so there is exactly one copy to keep right.
    """
    import numpy as np
    import pandas as pd

    from .similarity import ivf_assign

    C = np.asarray(centroids, dtype=np.float64)
    assigned = ivf_assign(emb, centroids, vec_col)

    def to_resid(batches):
        for pdf in batches:
            if len(pdf) == 0:  # filtered scans deliver empty Arrow batches
                continue
            V = np.stack(pdf[vec_col].map(lambda x: np.asarray(x, dtype=np.float64)).values)
            R = V - C[pdf["cell"].to_numpy()]
            yield pd.DataFrame(
                {id_col: pdf[id_col], "cell": pdf["cell"], "resid": list(R)}
            )

    return assigned.select(id_col, "cell", vec_col).mapInPandas(
        to_resid, f"{id_col} long, cell int, resid array<double>"
    )

def write_ivfpq_index(
    emb: DataFrame,
    name: str,
    centroids: list[list[float]],
    m: int = 8,
    ks: int = 16,
    iters: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_size: int = 100_000,
) -> list[list[list[float]]]:
    """The write-time half of IVF-PQ as a STORED layout: coarse-assign,
    residual-encode, and persist (id, cell, codes, vector) partitioned by
    cell (sources/bucketed.write_partitioned). Returns the trained
    codebooks — index metadata the caller keeps beside the table name,
    like the postings table's (n_docs, avgdl).

    Serving reads are then exactly the docstring's 100 TB claim: the ADC
    scan partition-prunes to nprobe cells AND column-prunes to
    (id, cell, codes) — the raw vector column is only read for the
    ~shortlist re-rank rows."""
    from ..sources.bucketed import write_partitioned

    with Rounds(emb.sparkSession) as r:
        res = r.pin(_residuals(emb, centroids, vec_col, id_col))
        cbs = pq_train(res, m, ks, iters, vec_col="resid", id_col=id_col, train_size=train_size)
        # cell rides through the encode pass — re-attaching it by a join on
        # id would shuffle the whole corpus to recover a column _residuals
        # already had beside the codes
        enc = pq_encode(res, cbs, vec_col="resid", id_col=id_col, carry={"cell": "int"})
        out = (
            enc.join(emb.select(id_col, vec_col), id_col)
            .select(id_col, "cell", "codes", vec_col)
        )
        write_partitioned(out, name, "cell")
        return cbs


def ivfpq_topk_indexed(
    spark,
    table: str,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ served from a write_ivfpq_index table: the ADC scan reads
    only the probed cells' directories (partition pruning — asserted in
    test_plans) and only the codes column (column pruning); the exact
    re-rank touches ~shortlist rows via a broadcast semi join. Results
    match ivfpq_search given the same codebooks."""
    probes, _tables, score = _ivfpq_query_side(
        query_vec, centroids, codebooks, nprobe, id_col=id_col
    )
    t = spark.table(table)
    scored = (
        t.filter(F.col("cell").isin(probes))
        .select(id_col, "cell", "codes")
        .mapInPandas(score, f"{id_col} long, adist double")
    )
    cand = scored.orderBy(F.col("adist").asc(), F.col(id_col).asc()).limit(shortlist)
    # every shortlist id came from a probed cell, so prune the re-rank
    # read to those directories too — without the filter this side scans
    # ALL cell partitions for the vector column, defeating the pruning
    # the docstring claims
    hits = (
        t.filter(F.col("cell").isin(probes))
        .join(F.broadcast(cand.select(id_col)), id_col, "semi")
        .select(id_col, vec_col)
    )
    from .similarity import cosine_topk

    return cosine_topk(hits, query_vec, k, vec_col)


def ivfpq_search(
    emb: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    m: int = 8,
    ks: int = 16,
    iters: int = 4,
    shortlist: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_size: int = 100_000,
) -> DataFrame:
    """IVF-PQ: the full production ANN composition (Jégou et al. 2011
    §VI; the FAISS `IVFx,PQy` index) — IVF prunes WHICH rows are scanned
    (nprobe cells of the coarse quantizer), PQ shrinks WHAT is scanned
    (m-byte residual codes), and a constant-size exact re-rank restores
    precision at the top.

    Residual encoding is the load-bearing detail: codes quantize
    v - centroid(cell), not v — residuals concentrate near 0 so the same
    codebook budget spends its resolution where vectors actually are, and
    the query-side ADC table is rebuilt per probed cell from
    q - centroid(cell) (driver-side, nprobe × m × ks floats — tiny).

    Scale shape: at 100 TB the cell id is a partition column, so a probe
    reads nprobe/ncells of the compressed codes and nothing else; the
    coarse assignment + residual + encode all happen once at write time
    (here inline so one entry point is correctness-checkable); the only
    per-query distributed work is an Arrow-batched table-lookup scan over
    the probed cells' codes and a ~shortlist-row semi join for re-rank.
    """
    from .similarity import cosine_topk

    with Rounds(emb.sparkSession) as r:
        # train on the residual distribution (one bounded sample), encode all
        res = r.pin(_residuals(emb, centroids, vec_col, id_col))
        cbs = pq_train(res, m, ks, iters, vec_col="resid", id_col=id_col, train_size=train_size)
        enc = pq_encode(res, cbs, vec_col="resid", id_col=id_col, carry={"cell": "int"})

        # per probed cell: T_c[j, code] = ||(q - C_c)_j - codebook_j[code]||^2
        probes, _tables, score = _ivfpq_query_side(
            query_vec, centroids, cbs, nprobe, id_col=id_col
        )
        scored = (
            enc.filter(F.col("cell").isin(probes))
            .select(id_col, "cell", "codes")
            .mapInPandas(score, f"{id_col} long, adist double")
        )
        cand = scored.orderBy(F.col("adist").asc(), F.col(id_col).asc()).limit(shortlist)
        hits = emb.join(F.broadcast(cand.select(id_col)), id_col, "semi")
        return r.finish(cosine_topk(hits, query_vec, k, vec_col))
