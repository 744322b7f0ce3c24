"""Block-GEMM embedding similarity — the 100 TB scale path for dense
vector math.

Pure-expression cosine (dedup.embedding_cosine_pairs) folds over arrays per
pair: exact but O(pairs × dim) scalar expression ops. For dense all-pairs
scoring the right physical shape is a *block matrix product*: partition the
vectors into B blocks, form the B·(B+1)/2 block pairs, and compute each
block-vs-block score matrix with vectorized numpy (BLAS) inside
applyInPandas. Arrow moves each block once; every executor core runs one
GEMM. Data is replicated ~B times in the shuffle — choose B so a block
(rows/B × dim doubles) fits comfortably in executor memory; shuffle volume
is B × input, far below the O(n²) a row-pair join would move.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def embedding_cosine_pairs_gemm(
    emb: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    num_blocks: int = 8,
) -> DataFrame:
    """(vec_a, vec_b, cosine) pairs with cosine ≥ threshold, block-GEMM.

    Result-identical to dedup.embedding_cosine_pairs (scores rounded to 6
    decimals; BLAS vs fold summation differs at ~1e-13, far below the
    rounding grain). Like it, rejects threshold <= 0.
    """
    if threshold <= 0:
        # the expression path rejects it (its -0.0 cosine argument needs
        # the filter to drop everything <= 0); identical results require
        # the same contract here
        raise ValueError("embedding_cosine_pairs_gemm: threshold must be > 0")
    import numpy as np
    import pandas as pd

    b = num_blocks
    blk = (F.col("vec_id") % b).cast("int")
    base = emb.select("vec_id", F.col(vec_col).alias("v"), blk.alias("blk"))

    # replicate each block to every block-pair it participates in:
    # row with block i joins pair (min(i,j), max(i,j)) for all j
    pair_ids = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(j)).alias("pa"),
                F.greatest(F.col("blk"), F.lit(j)).alias("pb"),
            )
            for j in range(b)
        ]
    )
    # literal-length struct array: never null/empty → explode_nonempty
    # (no Generate pre-filter re-building the b-element array per row)
    from .dedup import explode_nonempty

    exploded = base.select(
        "vec_id", "v", "blk", explode_nonempty(F.array_distinct(pair_ids)).alias("p")
    ).select("vec_id", "v", "blk", F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))

    thr = float(threshold)

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pa, pb = int(pdf["pa"].iloc[0]), int(pdf["pb"].iloc[0])
        left = pdf[pdf["blk"] == pa]
        right = pdf[pdf["blk"] == pb]
        if left.empty or right.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        lm = np.stack(left["v"].map(lambda x: np.asarray(x, dtype=np.float64)).values)
        rm = np.stack(right["v"].map(lambda x: np.asarray(x, dtype=np.float64)).values)
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        sims = lm @ rm.T
        lid = left["vec_id"].to_numpy()
        rid = right["vec_id"].to_numpy()
        ii, jj = np.where(np.round(sims, 6) >= thr)
        a = lid[ii]
        bb = rid[jj]
        if pa == pb:
            # same block on both sides: every unordered pair appears twice
            # (sims[i,j] and sims[j,i]) — keep one, drop self-pairs
            keep = a < bb
        else:
            # disjoint blocks: each unordered pair appears exactly once,
            # possibly with the larger id on the left — normalize, keep all
            keep = a != bb
        va = np.minimum(a[keep], bb[keep])
        vb = np.maximum(a[keep], bb[keep])
        return pd.DataFrame(
            {
                "vec_a": va,
                "vec_b": vb,
                "cosine": np.round(sims[ii, jj][keep], 6),
            }
        )

    return exploded.groupBy("pa", "pb").applyInPandas(
        score, "vec_a long, vec_b long, cosine double"
    )


def cosine_topk_gemm(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k with numpy scoring per partition + global
    TakeOrdered. Useful when dim is large enough that expression folds
    dominate; result-identical to similarity.cosine_topk."""
    import numpy as np
    import pandas as pd

    q = np.asarray(query_vec, dtype=np.float64)
    q = q / np.linalg.norm(q)

    def score(batches):
        for pdf in batches:
            m = np.stack(pdf[vec_col].map(lambda x: np.asarray(x, dtype=np.float64)).values)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "score": m @ q})

    scored = emb.select("vec_id", vec_col).mapInPandas(score, "vec_id long, score double")
    return (
        scored.orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", F.round("score", 6).alias("cosine"))
    )
