"""Data-selection operators for pretraining corpora.

The dedup family (operators/dedup.py) removes redundancy; these operators
decide what to KEEP — the quality / domain-relevance side of corpus
construction (no analogue in the reference engine, which is a time-series
store; these are training-data extensions over the documents table):

- quality_score_lr: fastText-shaped hashed linear-model quality scoring.
  The hashing trick bounds the feature space to `dim` buckets so the
  weight vector is a fixed-size broadcastable artifact at ANY corpus
  size; scoring is a pure per-row projection (no shuffle, no UDF).
- dsir_weights / dsir_sample: Data Selection with Importance Resampling
  (Xie et al., NeurIPS 2023 — public paper): hashed unigram LM built for
  a target (in-domain) slice and for the raw corpus, per-doc importance
  weight = log p_target(doc) - p_raw(doc) under those LMs, then
  Gumbel-top-k sampling ≡ sampling without replacement proportional to
  softmax(logweight / temperature).
- domain_mixture: temperature-based domain rebalancing (mT5 / XLM-R
  `tokens^alpha` rule) with deterministic epoch replication for
  upsampled domains — zero corpus shuffle.
- decontaminate_fuzzy: MinHash-LSH matching of corpus docs against a
  benchmark set — catches near-duplicate contamination that survives
  light paraphrase, below exact n-gram overlap (dedup.decontaminate).
- semantic_survivors: SemDeDup-shaped (Abbas et al., 2023) keep-one-per-
  cluster over embedding near-duplicates, here with deterministic SRP
  bucketing instead of trained k-means so the result is exactly
  reproducible (and oracle-checkable) in any engine.

All hot paths are JVM expressions; hashes are the portable md5-derived
60-bit hash (dedup.portable_word_hash) so every number is reproducible
bit-for-bit in the DuckDB oracles.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import (
    _parallelize,
    band_buckets,
    jaccard_expr,
    minhash_signatures,
    portable_word_hash,
)
from .rounds import Rounds

# Knuth multiplicative constant — decorrelates the pseudo-weight from the
# bucket id (bucket < dim <= 2^20, product < 2^52: no 64-bit overflow in
# Spark or DuckDB bigint arithmetic).
_WEIGHT_MIX = 2654435761


def _bucket(token: Column, dim: int) -> Column:
    return F.pmod(portable_word_hash(token), F.lit(dim))


def _doc_uniform() -> Column:
    """Deterministic per-doc uniform in (0, 1): the portable doc_id hash
    mapped to the 1e6 grid, +0.5 to stay strictly inside the open
    interval (log(-log(u)) must never see 0 or 1). ONE definition —
    this is the reproducibility contract shared with the DuckDB oracles
    by every sampler here (dsir_sample's Gumbel key, domain_mixture's
    fractional-copy draw); two drifting inline copies would break oracle
    parity for exactly one of them, the hard kind of bug to spot."""
    return (
        F.pmod(portable_word_hash(F.col("doc_id").cast("string")), F.lit(1000000))
        + 0.5
    ) / 1000000.0


def quality_score_lr(
    docs: DataFrame, dim: int = 4096, text_col: str = "text"
) -> DataFrame:
    """(doc_id, logit_milli, lr_logit, lr_prob, keep) — linear-model
    quality score over hashed bag-of-words features (the fastText /
    CCNet-classifier serving shape).

    Each token hashes into one of `dim` buckets; the bucket's weight is
    looked up and the document's logit is the mean token weight, squashed
    to a probability. Here the weights are a deterministic function of
    the bucket id (a stand-in for trained weights — training happens
    offline; what matters at 100 TB is the SERVING plan, and a real
    weight vector would arrive as a dim-sized broadcast array with the
    same plan shape). Weights are integers in [-1000, 1000] ("milli"
    units) and the per-doc sum is an exact integer fold, so the score is
    bit-reproducible across engines before the final rounded division.

    Physical shape: one narrow projection — split, transform, aggregate,
    all whole-stage codegen. No shuffle, no Python. Scales trivially.
    """
    toks = F.split(F.col(text_col), " ")
    weights = F.transform(
        toks,
        lambda t: F.pmod(_bucket(t, dim) * F.lit(_WEIGHT_MIX), F.lit(2001))
        - F.lit(1000),
    )
    logit_milli = F.aggregate(
        weights, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    logit = F.col("logit_milli") / (1000.0 * F.col("n_tokens"))
    return (
        docs.select(
            "doc_id",
            logit_milli.alias("logit_milli"),
            F.size(toks).cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "logit_milli",
            "n_tokens",
            F.round(logit, 6).alias("lr_logit"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("lr_prob"),
            (F.col("logit_milli") > 0).alias("keep"),
        )
    )


def dsir_weights(
    docs: DataFrame,
    is_target: Column,
    buckets: int = 8192,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, logw) — DSIR importance log-weights: per-doc
    log p_target(doc) - log p_raw(doc) under add-1-smoothed hashed
    unigram LMs fit on the target slice vs the whole corpus.

    Scale shape — the hashing trick is what makes this 100 TB-able: both
    LMs live on a FIXED `buckets`-row table regardless of corpus size, so
    (1) fitting is two map-side-combinable counts over the token stream,
    (2) the per-bucket log-ratio table is broadcast into the scoring join
    — the corpus token stream shuffles once (the doc_id groupBy) and the
    LM tables never shuffle at all. The two totals are a bounded
    driver-side collect (two scalars), same discipline as the centroid
    collects in operators/clustering.py.
    """
    # persisted: the token stream feeds the counts aggregate, the totals
    # collect, and the scoring join — unpinned it would be re-exploded 3x
    with Rounds(docs.sparkSession) as r:
        tok = r.pin(
            _parallelize(docs)
            .select("doc_id", is_target.alias("__tgt"), F.explode(F.split(F.col(text_col), " ")).alias("t"))
            .select("doc_id", "__tgt", _bucket(F.col("t"), buckets).alias("b"))
        )
        # one pass over the token stream: per-bucket raw count + target count
        # (map-side combinable; output bounded by `buckets` rows)
        # persisted too (bounded at `buckets` rows): the totals .first() is
        # an action, so an unpinned counts would re-run this aggregation over
        # the whole token stream a second time when the scoring job runs
        counts = r.pin(
            tok.groupBy("b").agg(
                F.count(F.lit(1)).alias("cr"),
                F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("ct"),
            )
        )
        tot = counts.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt")).first()
        t_raw, t_tgt = int(tot["tr"] or 0), int(tot["tt"] or 0)
        lam = (
            F.log(F.col("ct") + 1)
            - F.lit(float(__import__("math").log(t_tgt + buckets)))
            - F.log(F.col("cr") + 1)
            + F.lit(float(__import__("math").log(t_raw + buckets)))
        )
        ratio = counts.select("b", lam.alias("lam"))
        return r.finish(
            tok.join(F.broadcast(ratio), "b")
            .groupBy("doc_id")
            .agg(F.sum("lam").alias("logw"))
        )


def dsir_sample(
    docs: DataFrame,
    is_target: Column,
    k: int = 100,
    buckets: int = 8192,
    temperature: float = 1.0,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, dsir_logweight, sample_key) — top-k Gumbel sample under
    DSIR importance weights: deterministic sampling without replacement
    with inclusion probability ∝ softmax(logw / temperature).

    The Gumbel key g = -ln(-ln(u)) uses a per-doc uniform derived from
    the portable hash of doc_id — deterministic, partition-layout-
    invariant, and reproducible in the oracle. Selection is a TakeOrdered
    top-k (no global sort materialization).
    """
    w = dsir_weights(docs, is_target, buckets, text_col)
    u = _doc_uniform()
    key = F.col("logw") / temperature + (-F.log(-F.log(u)))
    return (
        w.select(
            "doc_id",
            F.round(F.col("logw"), 4).alias("dsir_logweight"),
            F.round(key, 4).alias("sample_key"),
            key.alias("__k"),
        )
        .orderBy(F.col("__k").desc(), "doc_id")
        .limit(k)
        .drop("__k")
    )


def domain_mixture(
    docs: DataFrame,
    alpha: float = 0.5,
    total_budget_tokens: int | None = None,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, source, copy_idx, rate) — temperature-based domain
    rebalancing of a multi-source corpus (the mT5 / XLM-R `p_s ∝
    tokens_s^alpha` sampling rule), with deterministic epoch replication
    when a domain's rate exceeds 1 (the data-constrained-scaling regime:
    upsample small domains by repeating them).

    Each source s gets a token budget ∝ tokens_s^alpha (alpha < 1
    flattens head domains and upsamples tail domains); its per-doc
    keep/replicate rate is budget_s / tokens_s. A doc emits
    floor(rate) copies plus one more when its deterministic per-doc
    uniform falls under frac(rate) — so every domain hits its budget in
    expectation, rates are exact and reproducible, and reruns (or the
    oracle) produce the identical corpus.

    Scale shape: the per-source token table is #sources rows — two tiny
    map-side-combinable aggregates — and the rate table is BROADCAST
    into a narrow projection; the corpus itself never shuffles (compare:
    an exact-budget cumulative-sum formulation would sort every domain
    partition — parallelism capped at #sources — for a guarantee
    production mixtures don't need). Replication is a per-row sequence
    explode bounded by ceil(rate).
    """
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    # NULL sources: the null-unsafe rate join below would drop their
    # docs while their tokens still earned a budget share — that share
    # would silently vanish and the realized mixture would undershoot
    # the requested budget (the psi_by_group NULL-group rule)
    docs = docs.filter(F.col(source_col).isNotNull())
    per_source = (
        _parallelize(docs)
        .groupBy(source_col)
        .agg(F.sum(n_tok).alias("tokens_s"))
    )
    wsum = per_source.agg(
        F.sum(F.pow("tokens_s", F.lit(alpha))).alias("wsum"),
        F.sum("tokens_s").alias("total"),
    ).first()
    if wsum["total"] is None:  # empty corpus — nothing to mix
        # derive doc_id/source types from the INPUT so the empty frame's
        # schema matches a populated run's (the _empty_temporal rule)
        return docs.select("doc_id", source_col).limit(0).select(
            "doc_id",
            source_col,
            F.lit(None).cast("long").alias("copy_idx"),
            F.lit(None).cast("double").alias("rate"),
        )
    # `is None`, not truthiness: an explicit budget of 0 means an empty
    # mixture, not "default to the full corpus"
    budget = int(
        wsum["total"] if total_budget_tokens is None else total_budget_tokens
    )
    rates = per_source.select(
        source_col,
        (
            F.lit(budget)
            * F.pow("tokens_s", F.lit(alpha))
            / F.lit(float(wsum["wsum"]))
            / F.col("tokens_s")
        ).alias("rate"),
    )
    u = _doc_uniform()
    n_copies = F.floor("rate").cast("long") + F.when(
        u < F.col("rate") - F.floor("rate"), 1
    ).otherwise(0)
    return (
        docs.join(F.broadcast(rates), source_col)
        .withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .select(
            "doc_id",
            source_col,
            F.explode(F.sequence(F.lit(1), F.col("__n"))).alias("copy_idx"),
            F.round("rate", 6).alias("rate"),
        )
    )


def decontaminate_fuzzy(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, bench_id, jaccard) — corpus docs that are NEAR-duplicates
    of a benchmark doc (Jaccard ≥ threshold on word n-grams), found via
    MinHash-LSH banding and verified exactly on the candidates.

    Exact-gram decontamination (dedup.decontaminate) misses lightly
    paraphrased contamination; this catches any pair above the Jaccard
    threshold with the banding recall curve of minhash_lsh_pairs
    (≈1 at 128/32 for j ≥ 0.5 — the oracle is the exact cross-set pair
    set, so a missed pair fails the gate).

    Scale shape: the corpus side shuffles O(docs × bands) bucket rows —
    never pairwise; the benchmark side is small by definition, so BOTH
    its bucket table and its shingle arrays are broadcast: the corpus is
    never joined to itself and never shuffles for the verification. This
    is the asymmetric version of minhash_lsh_pairs' self-join.
    """
    def banded(sigs: DataFrame, id_out: str) -> DataFrame:
        # one band-key derivation for the whole repo (dedup.band_buckets)
        # — compatibility with stored signature indexes depends on it
        return band_buckets(sigs, num_hashes, bands).withColumnRenamed(
            "doc_id", id_out
        )

    with Rounds(docs.sparkSession) as r:
        corpus_sigs = r.pin(minhash_signatures(docs, n, num_hashes, text_col))
        bench_sigs = r.pin(minhash_signatures(benchmark, n, num_hashes, text_col))
        candidates = (
            banded(corpus_sigs, "doc_id")
            .join(F.broadcast(banded(bench_sigs, "bench_id")), ["band", "key"])
            .select("doc_id", "bench_id")
            .distinct()
        )
        bench_sh = bench_sigs.select(
            F.col("doc_id").alias("bench_id"), F.col("shingles").alias("sh_b")
        )
        return r.finish(
            candidates.join(corpus_sigs.select("doc_id", F.col("shingles").alias("sh_a")), "doc_id")
            .join(F.broadcast(bench_sh), "bench_id")
            # the one shared scoring convention (dedup.jaccard_expr) on this
            # operator's own broadcast-asymmetric join shape
            .withColumn("jaccard", jaccard_expr())
            .filter(F.col("jaccard") >= threshold)
            .select("doc_id", "bench_id", "jaccard")
        )


def semantic_survivors(
    emb: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, rep_id, survivor) — SemDeDup-shaped semantic dedup over
    an embedding column: group mutually-near embeddings (cosine ≥
    threshold, transitively) and keep one representative per group
    (the minimum id; `survivor` marks it).

    SemDeDup clusters with k-means and prunes within clusters; trained
    centroids make the output depend on the training run, so here the
    grouping is the DETERMINISTIC scale path already oracle-checked
    end-to-end: banded SRP-LSH candidate pairs verified exactly
    (dedup.embedding_srp_pairs — O(vectors × bands) shuffle), then
    alternating-star connected components (O(log² n) rounds). Both
    stages are exactly reproducible, so keep/drop decisions are too —
    on 100 TB reruns and in the cross-engine oracle.
    """
    from .dedup import connected_components_alternating, embedding_srp_pairs

    pairs = embedding_srp_pairs(emb, threshold, vec_col=vec_col).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    nodes = emb.select(F.col("vec_id").alias("doc_id"))
    comp = connected_components_alternating(pairs, nodes)
    return comp.select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id").alias("rep_id"),
        (F.col("doc_id") == F.col("cluster_id")).alias("survivor"),
    )


def select_token_budget(
    docs: DataFrame,
    quality: str,
    tokens: str,
    budget: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Best-docs-within-a-token-budget selection: keep the largest
    prefix of quality CLASSES (descending quality) whose total token
    count fits `budget` — "give me the highest-quality ~1B tokens"
    without ever sorting the corpus. Class-granular by design: a class
    is either fully in or fully out, so the cut is deterministic and
    engine-independent (no arbitrary tie-split inside a class; if the
    single top class already exceeds the budget the selection is empty
    — budget up or pre-bin quality finer).

    Scale shape: one map-side-combinable collapse to per-class token
    totals, the descending cumulative via range-partition + local
    cumsums + broadcast P-offsets (the partition_offsets discipline —
    class count is bounded by the quality grid, but the plan survives
    even a pathological one-class-per-doc corpus), then the kept-class
    set joins back as a filter. The CORPUS never sorts and never
    shuffles beyond the class collapse + the semi-join.

    Output: (id_col, quality, n_tokens) for every selected doc.
    """
    d = docs.filter(
        F.col(quality).isNotNull()
        & F.col(tokens).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(id_col, F.col(quality).alias("q"), F.col(tokens).alias("tok"))
    cls = d.groupBy("q").agg(F.sum("tok").cast("long").alias("ct"))
    p = (
        cls.repartitionByRange(F.col("q").desc())
        .sortWithinPartitions(F.col("q").desc())
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("pid")
        .orderBy(F.col("q").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = p.withColumn("lc", F.sum("ct").over(w))
    subtotals = {
        r["pid"]: r["sc"] or 0
        for r in p.groupBy("pid").agg(F.sum("ct").alias("sc")).collect()
    }
    offsets, acc = [], 0
    for pid in range(max(subtotals, default=-1) + 1):
        offsets.append((pid, acc))
        acc += subtotals.get(pid, 0)
    off = docs.sparkSession.createDataFrame(
        offsets or [(0, 0)], "pid int, off long"
    )
    keep = (
        p.join(F.broadcast(off), "pid")
        .filter(F.col("lc") + F.col("off") <= budget)
        .select("q")
    )
    return d.join(keep, "q", "semi").select(
        id_col, F.col("q").alias(quality), F.col("tok").alias("n_tokens")
    )


def importance_ess(
    weights: DataFrame, logw_col: str = "logw", clip_pct: float = 0.99
) -> DataFrame:
    """Effective-sample-size audit for importance weights:
    ESS = (Σw)²/Σw² over w = exp(logw − max logw) (max-shifted for
    overflow safety; ESS is shift-invariant), plus the ESS after
    clipping at the `clip_pct` weight percentile — the standard
    truncated-importance-sampling diagnostic. A tiny ESS fraction means
    the DSIR/importance resample is effectively drawing from a handful
    of documents; clip-vs-raw shows how much of that is a few runaway
    weights versus genuine distribution shift.

    Two aggregates over the |docs| weight frame (max, then the three
    moment sums + one exact percentile) — nothing here touches the
    corpus itself.

    Output: one row (n bigint, ess r6, ess_frac r6, clip_w r6,
    ess_clipped r6, ess_clipped_frac r6).
    """
    base = weights.filter(F.col(logw_col).isNotNull()).select(
        F.col(logw_col).alias("lw")
    )
    mx = base.groupBy().agg(F.max("lw").alias("m"))
    w = F.exp(F.col("lw") - F.col("m"))
    j = base.crossJoin(F.broadcast(mx))
    stats = j.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(w).alias("s1"),
        F.sum(w * w).alias("s2"),
        F.expr(
            f"percentile(exp(lw - m), {clip_pct})"
        ).alias("c"),
    )
    clipped = j.crossJoin(
        F.broadcast(stats.select("c"))
    ).groupBy().agg(
        F.sum(F.least(w, F.col("c"))).alias("cs1"),
        F.sum(F.least(w, F.col("c")) * F.least(w, F.col("c"))).alias("cs2"),
    )
    out = stats.crossJoin(F.broadcast(clipped))
    nd = F.col("n").cast("double")
    ess = F.try_divide(F.col("s1") * F.col("s1"), F.col("s2"))
    essc = F.try_divide(F.col("cs1") * F.col("cs1"), F.col("cs2"))
    return out.select(
        "n",
        F.round(ess, 6).alias("ess"),
        F.round(ess / nd, 6).alias("ess_frac"),
        F.round("c", 6).alias("clip_w"),
        F.round(essc, 6).alias("ess_clipped"),
        F.round(essc / nd, 6).alias("ess_clipped_frac"),
    )
