"""Deduplication operators over a documents table (doc_id, text).

All hot paths are pure pyspark.sql expressions (JVM, whole-stage codegen) —
no Python UDFs. Pair generation strategies:

- exact:       one hash-groupBy shuffle, the cheapest possible dedup.
- n-gram Jaccard: shingle-explode + shingle-keyed equi-join. Exact but the
  join fans out quadratically inside hot-shingle groups; at 100 TB use
  `stop_shingle_df_limit` to drop ubiquitous shingles (they carry no
  discriminating signal) or prefer MinHash-LSH below.
- MinHash-LSH: signature per doc (k hashes), banded bucketing, candidate
  pairs only within equal band buckets, then *exact* Jaccard verification of
  candidates. Shuffle volume is O(docs × bands), independent of pairwise
  cross products — this is the 100 TB path.
- SimHash: 60-bit fingerprints via a portable md5-derived word hash;
  near-dup = small Hamming distance. Banded variant for scale.
- CDC chunking: content-defined boundaries (rolling-hash mask hits) +
  shared-chunk pairs — block-level reuse below any jaccard threshold.
- Embedding cosine: exact pair scoring; for scale, pre-bucket with the IVF
  routine in operators/similarity.py.

The registry defaults the stop-shingle guard (df cap max(10, 0.5% docs))
on the exact pair joins; the unguarded form is opt-in
(dedup_ngram_jaccard_raw). BASELINE.md records the measured scale
crossover: exact join ~quadratic, MinHash-LSH ~linear.
"""
from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rounds import Rounds


def _parallelize(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster's cores.

    Small parquet inputs arrive as one split (maxPartitionBytes), which
    would serialize every expression-heavy operator below onto one core. At
    real scale the input already has >= defaultParallelism splits and this
    is a no-op; the check costs only a plan-to-RDD conversion.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Two-stage check. inputFiles() is listing-only: >= target files
    # guarantees >= target scan splits, no plan->RDD conversion needed.
    # FEWER files does NOT mean fewer splits (500 large files split into
    # thousands of maxPartitionBytes tasks) — repartitioning on the file
    # count alone would shuffle a big-file corpus for nothing, so only
    # then pay the getNumPartitions() conversion to see the real split
    # count before deciding.
    if len(df.inputFiles()) >= target:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _finish(out: DataFrame, *pins: DataFrame) -> DataFrame:
    """Materialize `out` and release the cache pins backing it.

    The pair operators persist a shared intermediate (exploded shingles,
    signatures, bucket rows) that feeds several consumers of one job; the
    returned frame is lazy, so without this the pinned blocks would stay
    in storage memory for the whole session (they are the big artifact —
    the verified output is orders of magnitude smaller). localCheckpoint
    runs the job once, keeps only the small result, and the intermediates
    are dropped immediately.
    """
    out = out.localCheckpoint(eager=True)
    for p in pins:
        p.unpersist()
    return out


# ------------------------------------------------------------------ exact


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, keep_id, dup_count).

    Single map-side-combinable groupBy; at scale this is one shuffle keyed
    by the md5 hash (uniform — no skew). NULL texts are excluded: md5(NULL)
    is NULL and groupBy would pool every content-less doc into one fake
    duplicate group, marking unrelated docs for deletion.
    """
    return (
        docs.filter(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def passage_dup_stats(
    docs: DataFrame, k: int = 8, stride: int | None = None,
    text_col: str = "text"
) -> DataFrame:
    """Passage-level exact dedup (the RefinedWeb/MassiveText removal unit
    between whole-doc hashing and fuzzy shingles): cut each doc into
    k-word passages starting every `stride` words and flag every
    occurrence that is not the corpus-wide canonical first copy of its
    content. stride defaults to k (non-overlapping windows — the cheap
    pass); stride < k overlaps the windows, which catches duplicated
    passages at arbitrary-ish offsets (within stride words) the way the
    exact-substring dedup this approximates does (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better") at a
    k/stride× passage-replication cost — rows and shuffle bytes scale by
    exactly that factor, nothing else in the plan changes.
    Output (doc_id, n_passages, dup_passages, dup_frac rounded 6) —
    dup_frac is the fraction of the doc's windows a passage-dedup pass
    would drop.

    Canonical copy = min (doc_id, position) composite; the composite is
    the scalar doc_id·2^20+pos (min over a struct isn't portable to the
    SQL oracle). The packing bounds — window index pos < 2^20 (a
    stride·2^20-word doc, 8M words at stride=8) and doc_id < 2^42 — are
    ASSERTED at runtime: a silent int64
    wraparound would flip which occurrence is canonical, turning an
    out-of-range id into wrong dup counts instead of an error.
    Plan: one posexplode, one map-side-combinable count+min
    per passage hash, a co-partitioned join-back on the hash, one per-doc
    aggregate — the linear ngram_novelty shape, no pair join; the
    exploded frame is persisted so the aggregate and the probe share one
    evaluation. Passages hash to xxhash64 longs on the wire (16 bytes a
    row at any corpus size); the last window keeps the <k-word remainder.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    stride = k if stride is None else stride
    if not 0 < stride <= k:
        raise ValueError(
            f"stride must be in 1..k (got stride={stride}, k={k}); "
            "stride > k would silently skip words between windows"
        )
    words = _word_array(text_col)
    npass = F.ceil(F.size(words) / F.lit(stride)).cast("int")
    passages = F.transform(
        F.sequence(F.lit(0), npass - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * stride + 1, k)),
    )
    pos_limit, doc_limit = 1 << 20, 1 << 42
    in_range = F.assert_true(
        (F.col("pos") < pos_limit)
        & F.col("doc_id").between(0, doc_limit - 1),
        F.lit("passage composite key out of range (pos>=2^20 or doc_id>=2^42)"),
    )
    # null-text filter keeps the row-drop the inner posexplode did
    # implicitly; non-null text → ≥1 passage → posexplode_nonempty (no
    # Generate pre-filter re-evaluating the passage transform), and
    # _parallelize spreads the passage build off the one-split scan
    p = (
        _parallelize(docs.filter(F.col(text_col).isNotNull()))
        .select("doc_id", posexplode_nonempty(passages).alias("pos", "passage"))
        .select(
            "doc_id",
            F.xxhash64("passage").alias("ph"),
            # assert_true is NULL on pass, raises the message otherwise
            F.when(
                in_range.isNull(),
                F.col("doc_id") * F.lit(pos_limit) + F.col("pos"),
            ).alias("ck"),
        )
        .persist()
    )
    h = p.groupBy("ph").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("ck").alias("mn")
    )
    dup = F.when((F.col("cnt") > 1) & (F.col("ck") != F.col("mn")), 1).otherwise(0)
    out = (
        p.join(h, "ph")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(dup).alias("dup_passages"),
        )
        .withColumn(
            "dup_frac", F.round(F.col("dup_passages") / F.col("n_passages"), 6)
        )
    )
    return _finish(out, p)  # one-row-per-doc result; release the passage pin


def scrub_duplicate_passages(
    docs: DataFrame, k: int = 8, text_col: str = "text"
) -> DataFrame:
    """Passage-level dedup APPLIED (passage_dup_stats only measures):
    every non-overlapping k-word window that is a duplicate occurrence —
    its content appears elsewhere in the corpus and this copy is not the
    canonical min-(doc_id, position) one — is removed, and each doc's
    surviving windows are stitched back in order (Lee et al. 2022
    exact-substring removal at window grain: one copy of every duplicated
    passage survives corpus-wide, so no content is lost, only repeats).

    Output: (doc_id, n_kept, n_removed, clean_len, clean_digest) —
    digest is md5 of the reassembled text, '' (not NULL) when every
    window was a duplicate copy, so the row still certifies the doc was
    processed. NULL-text docs drop (no windows), as in passage_dup_stats.

    Plan: identical linear shape to passage_dup_stats (one posexplode,
    one count+min per passage hash, co-partitioned join-back) plus a
    per-doc ordered reassembly — sort_array over the doc's own
    (pos, passage) structs inside one aggregate, so the only data moving
    twice is the passage text itself (needed verbatim for reassembly; at
    100 TB this is the same volume as the corpus scan, not a pair join).
    The canonical composite key reuses the asserted 2^20/2^42 packing.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    words = _word_array(text_col)
    npass = F.ceil(F.size(words) / F.lit(k)).cast("int")
    passages = F.transform(
        F.sequence(F.lit(0), npass - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * k + 1, k)),
    )
    pos_limit, doc_limit = 1 << 20, 1 << 42
    in_range = F.assert_true(
        (F.col("pos") < pos_limit)
        & F.col("doc_id").between(0, doc_limit - 1),
        F.lit("passage composite key out of range (pos>=2^20 or doc_id>=2^42)"),
    )
    # same null-filter + outer-posexplode + parallelize discipline as
    # passage_dup_stats (see there)
    p = (
        _parallelize(docs.filter(F.col(text_col).isNotNull()))
        .select("doc_id", posexplode_nonempty(passages).alias("pos", "passage"))
        .select(
            "doc_id",
            "pos",
            "passage",
            F.xxhash64("passage").alias("ph"),
            F.when(
                in_range.isNull(),
                F.col("doc_id") * F.lit(pos_limit) + F.col("pos"),
            ).alias("ck"),
        )
        .persist()
    )
    h = p.groupBy("ph").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("ck").alias("mn")
    )
    keep = (F.col("cnt") == 1) | (F.col("ck") == F.col("mn"))
    kept_struct = F.when(
        keep, F.struct(F.col("pos"), F.col("passage"))
    )  # NULL when removed — collect_list drops NULLs
    out = (
        p.join(h, "ph")
        .groupBy("doc_id")
        .agg(
            F.count(F.when(keep, 1)).alias("n_kept"),
            F.count(F.when(~keep, 1)).alias("n_removed"),
            F.array_sort(F.collect_list(kept_struct)).alias("__ks"),
        )
        .select(
            "doc_id",
            "n_kept",
            "n_removed",
            F.array_join(
                F.transform(F.col("__ks"), lambda s: s["passage"]), " "
            ).alias("__clean"),
        )
        .select(
            "doc_id",
            "n_kept",
            "n_removed",
            F.length("__clean").alias("clean_len"),
            F.md5("__clean").alias("clean_digest"),
        )
    )
    return _finish(out, p)


# ------------------------------------------------------------------ shingles


def _word_array(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def shingle_array(text_col: str = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles; texts shorter than n words collapse to
    one whole-text shingle."""
    words = _word_array(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(n)]),
    )
    return F.when(F.size(words) >= n, F.array_distinct(grams)).otherwise(
        F.array(F.col(text_col))
    )


def explode_nonempty(arr: Column) -> Column:
    """explode() for an array expression that is PROVABLY non-null and
    non-empty — implemented as explode_outer, which emits exactly the same
    rows for such arrays but generates no pre-filter.

    Why it exists: an inner explode plants an implicit
    `size(arr) > 0 AND isnotnull(arr)` Filter under the Generate, and for
    a COMPUTED array that filter re-evaluates the whole array expression
    twice more per input row; worse, the optimizer pushes the filter below
    any exchange (e.g. _parallelize's repartition), so the duplicated
    evaluation runs at the INPUT's parallelism — for a one-split parquet
    scan, single-threaded. Measured on the sf0.1 shingle stream: 4.0 s
    inner vs 0.49 s outer for an identical row set (round 8).

    Callers must guarantee the array is never null/empty on the input rows
    (e.g. shingle_array always yields ≥1 element; pre-filter null text
    first when the source expression propagates nulls) — otherwise
    explode_outer would EMIT a null row where explode dropped it.
    """
    return F.explode_outer(arr)


def posexplode_nonempty(arr: Column) -> Column:
    """posexplode() under the explode_nonempty contract (see above)."""
    return F.posexplode_outer(arr)


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    return docs.select("doc_id", shingle_array(text_col, n).alias("shingles"))


# ------------------------------------------------------------------ jaccard


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    stop_shingle_df_limit: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs: (doc_a, doc_b, jaccard).

    jaccard = |A∩B| / |A∪B| over distinct shingle sets, computed with a
    shingle-keyed equi-join (partial aggregation both sides, no cross
    product outside shared-shingle groups).

    stop_shingle_df_limit: drop shingles occurring in more than this many
    docs before pairing (skew guard for the 100 TB case). Jaccard is then
    computed over the FILTERED sets — both the intersection and the set
    sizes shrink — so the guard affects precision as well as recall: a
    pair sharing mostly rare shingles scores HIGHER than its unfiltered
    jaccard (boilerplate carries no signal, which is usually the point,
    but it is not a pure recall knob; the unguarded operator is the
    exact-score baseline).

    The join key is xxhash64(shingle), not the shingle string: set
    cardinalities (and therefore jaccard) are unchanged up to 64-bit
    collisions (~n²·2⁻⁶⁴ per doc — negligible), while the self-join
    shuffles 8-byte longs instead of ~25-byte strings and the probe side
    hashes primitives, not UTF-8 — measured to cut both shuffle volume
    and GC-driven run-to-run variance on the pair-generation stage.
    """
    sized, sh = _shingle_pair_sizes(docs, n, stop_shingle_df_limit)
    out = (
        sized.withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return _finish(out, sh)


def _shingle_pair_sizes(
    docs: DataFrame, n: int, stop_shingle_df_limit: int | None
) -> tuple[DataFrame, DataFrame]:
    """The ONE shingle-pair pipeline behind both jaccard and containment:
    (doc_a, doc_b, common, na, nb) rows for every pair sharing a shingle
    (a < b), plus the persisted exploded-shingle pin the caller must
    release via _finish. Shared so the hash keying / skew guard / join
    shape can never drift between the two operators."""
    # the exploded shingle frame feeds the hot-set build AND three
    # consumers (both join sides + doc counts): persist the RAW stream so
    # the corpus is shingled exactly ONCE. Persisting only the filtered
    # frame (the previous shape) shingled the corpus twice — once for the
    # hot-set broadcast, once for the persisted anti-joined frame —
    # because the hot subquery's lineage sat below the persist point.
    raw = (
        shingles(_parallelize(docs), n)
        # shingle_array always yields ≥1 element → explode_nonempty
        .select("doc_id", explode_nonempty(F.col("shingles")).alias("s"))
        .select("doc_id", F.xxhash64("s").alias("sh"))
        .persist()
    )
    sh = raw
    if stop_shingle_df_limit is not None:
        hot = (
            raw.groupBy("sh").count()
            .filter(F.col("count") > stop_shingle_df_limit)
            .select("sh")
        )
        # cheap broadcast-anti probe over the cached raw frame — each
        # consumer re-applies it, but the ONE broadcast exchange is
        # shared (ReuseExchange) and the probe is a hash lookup
        sh = raw.join(F.broadcast(hot), "sh", "left_anti")
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # explicit co-partition on the shingle key before the pair join: the
    # join's OUTPUT is the per-shingle pair production but AQE coalesces
    # the input exchange on INPUT bytes (the r9 srp/wedge pattern, guide
    # §2.5); both aliases read ONE exchange (ReuseExchange). Per-key
    # fan-out is bounded by the stop-shingle guard, so no salt needed.
    shp = sh.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "sh"
    )
    a, b = shp.alias("a"), shp.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sized = (
        common.join(counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
    )
    return sized, raw


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    stop_shingle_df_limit: int | None = None,
) -> DataFrame:
    """Asymmetric near-duplicate CONTAINMENT pairs: (doc_inner, doc_outer,
    containment) where containment = |inner ∩ outer| / |inner| ≥ threshold
    over distinct shingle sets. Catches "A is a fragment of B" (quotes,
    boilerplate-wrapped copies, truncated docs) that symmetric Jaccard
    misses: a 100-shingle doc fully inside a 10000-shingle doc has
    containment 1.0 but Jaccard 0.01.

    Same physical shape as ngram_jaccard_pairs — ONE shingle-keyed
    equi-join generating each unordered pair once (a < b), then both
    directed containments read off the same aggregated (common, |A|, |B|)
    row; emitting the two directions is a post-aggregation projection,
    not a second join. Same stop-shingle skew guard applies at scale.
    """
    sized, sh = _shingle_pair_sizes(docs, n, stop_shingle_df_limit)
    # both directions EXPLODE off one evaluation of `sized`: the previous
    # union-of-two-projections shape duplicated the whole pair-join
    # subtree (shingle self-join + two count joins) — the plan ran it
    # twice, once per direction (measured ~1.9s extra at sf0.1). The
    # 2-element struct array is provably non-empty → explode_nonempty.
    # Same rows, same values; row order differs, which no consumer or
    # oracle depends on (pair sets are order-insensitive).
    both = sized.select(
        explode_nonempty(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_inner"),
                    F.col("doc_b").alias("doc_outer"),
                    F.round(F.col("common") / F.col("na"), 6).alias("containment"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_inner"),
                    F.col("doc_a").alias("doc_outer"),
                    F.round(F.col("common") / F.col("nb"), 6).alias("containment"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    return _finish(both.filter(F.col("containment") >= threshold), sh)


# ----------------------------------------------- content-defined chunking


def cdc_chunks(
    docs: DataFrame, k: int = 8, mask: int = 32, text_col: str = "text"
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS boundary trick): a chunk
    boundary falls wherever the rolling k-gram hash ≡ 0 (mod `mask`), so
    boundaries move WITH the content — inserting a byte shifts only the
    chunk it lands in, while fixed-size blocks would shift every block
    after it. Expected chunk length ≈ mask chars.

    Output: (doc_id, chunk_idx, start, length, chunk_hash). The portable
    md5-derived hash (same as SimHash/winnowing) keeps boundaries and
    chunk ids reproducible in any engine. Physical shape: explode k-gram
    positions → codegen hash+modulo filter (the vast majority of
    positions drop BEFORE any shuffle) → one per-doc window for interval
    assembly. Scales as winnowing does: all work is per-doc.
    """
    from pyspark.sql import Window

    L = F.length(text_col)
    n_pos = F.greatest(L - (k - 1), F.lit(1))
    # explicit NULL-text filter replaces the row drops the downstream
    # filters performed for NULL text (np is never NULL — greatest()
    # skips nulls, so sequence(1, 1) = [1] even for NULL text; the lone
    # p=1 row then died in the p>1 cut and the interval nxt>start
    # checks, NOT in the explode). With the filter the position array is
    # provably non-empty (np >= 1) → explode_nonempty, and _parallelize
    # spreads the per-position hashing (the expensive stage) off the
    # scan's split count. Output-equivalent either way (ADVICE r8).
    base = _parallelize(docs.filter(F.col(text_col).isNotNull())).select(
        "doc_id", F.col(text_col).alias("__t"), L.alias("L"), n_pos.alias("np")
    )
    h = portable_word_hash(F.substring(F.col("__t"), F.col("p"), k))
    # the hash filter runs in the narrow explode stage; only (doc_id, p)
    # boundary rows enter the distinct + window shuffles — carrying the
    # full text there would cost O(boundaries x doc_len) shuffle bytes
    # per doc, quadratic in document length
    bounds = (
        base.select("doc_id", "__t", explode_nonempty(F.sequence(F.lit(1), F.col("np"))).alias("p"))
        .filter((h % mask == 0) & (F.col("p") > 1))
        .select("doc_id", "p")
    )
    sentinels = base.select(
        "doc_id",
        F.explode(F.array(F.lit(1).cast("int"), (F.col("L") + 1).cast("int"))).alias("p"),
    )
    b = bounds.unionByName(sentinels).distinct()
    w = Window.partitionBy("doc_id").orderBy("p")
    iv = b.select(
        "doc_id",
        F.col("p").alias("start"),
        F.lead("p").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull() & (F.col("nxt") > F.col("start")))
    # text rejoins ONCE per doc (one copy over the wire) for the chunk
    # substring hashing; replication onto chunk rows is executor-local
    return iv.join(base.select("doc_id", "__t"), "doc_id").select(
        "doc_id",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("start")).alias("chunk_idx"),
        F.col("start"),
        (F.col("nxt") - F.col("start")).cast("int").alias("length"),
        F.md5(F.col("__t").substr(F.col("start"), F.col("nxt") - F.col("start"))).alias("chunk_hash"),
    )


def cdc_doc_summary(
    docs: DataFrame, k: int = 8, mask: int = 32, text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_chunks, avg_chunk_len, chunks_digest) — per-doc CDC
    chunk inventory digested for compact oracle checking."""
    ch = cdc_chunks(docs, k, mask, text_col)
    return ch.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_chunks"),
        F.round(F.avg("length"), 6).alias("avg_chunk_len"),
        F.md5(F.array_join(F.array_sort(F.collect_list("chunk_hash")), ",")).alias(
            "chunks_digest"
        ),
    )


def cdc_shared_pairs(
    docs: DataFrame,
    k: int = 8,
    mask: int = 32,
    min_chunk_len: int = 24,
    min_shared: int = 2,
    stop_chunk_df_limit: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Partial-overlap detection via shared content-defined chunks:
    (doc_a, doc_b, shared_chunks, shared_bytes) for pairs sharing ≥
    min_shared distinct chunks of ≥ min_chunk_len chars. Catches large
    copied BLOCKS (quotations, boilerplate, file reuse) whose overall
    Jaccard sits below a near-dup threshold — the complement of
    ngram_jaccard_pairs/containment_pairs.

    Same equi-join scale shape as the shingle join, but keyed on ~L/mask
    chunks per doc instead of ~L shingles, and min_chunk_len drops the
    noise chunks before the join. stop_chunk_df_limit is the same skew
    guard (boilerplate chunks shared by half the corpus fan out
    quadratically and carry no pairing signal).
    """
    ch = (
        cdc_chunks(_parallelize(docs), k, mask, text_col)
        .filter(F.col("length") >= min_chunk_len)
        .select("doc_id", "chunk_hash", "length")
        .distinct()
    )
    if stop_chunk_df_limit is not None:
        hot = (
            ch.groupBy("chunk_hash").count()
            .filter(F.col("count") > stop_chunk_df_limit)
            .select("chunk_hash")
        )
        ch = ch.join(F.broadcast(hot), "chunk_hash", "left_anti")
    ch = ch.persist()
    a, b = ch.alias("a"), ch.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.chunk_hash") == F.col("b.chunk_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("shared_chunks"),
            F.sum("a.length").alias("shared_bytes"),
        )
        .filter(F.col("shared_chunks") >= min_shared)
    )
    return _finish(out, ch)


# ------------------------------------------------------------- decontamination


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    min_matches: int = 1,
) -> DataFrame:
    """Benchmark decontamination: training docs that share at least
    `min_matches` distinct word n-grams with an evaluation/benchmark set
    → (doc_id, matched_ngrams). The standard pre-training hygiene pass
    (the reference engine has no analogue; this is a training-data
    extension over the documents table).

    Scale shape — the asymmetry IS the design: the benchmark side is
    small by definition (eval sets are thousands of docs, not billions),
    so its distinct gram hashes are aggregated and BROADCAST; the corpus
    side is one narrow scan → explode → broadcast hash join (no corpus
    shuffle for the match) and a single map-side-combinable groupBy on
    doc_id for the counts. Grams are joined as xxhash64 longs, not
    strings — same collision argument as ngram_jaccard_pairs (counts are
    unchanged up to 64-bit collisions, the broadcast table holds 8-byte
    keys: a 10M-gram benchmark set is ~80 MB, comfortably broadcastable).

    Docs shorter than n words collapse to one whole-text gram (same rule
    as shingle_array both sides), so exact short-doc matches still flag.
    """
    bench_grams = (
        benchmark.select(explode_nonempty(shingle_array(text_col, n)).alias("g"))
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    # _parallelize: the whole corpus side is NARROW (explode → broadcast
    # join → partial agg), so without it the expensive shingle build runs
    # at the input's split count — single-threaded on a one-split scan
    # (measured 5.3 s on 6 tasks at sf0.1); a no-op at real scale
    corpus_grams = _parallelize(docs).select(
        "doc_id", explode_nonempty(shingle_array(text_col, n)).alias("g")
    ).select("doc_id", F.xxhash64("g").alias("gh"))
    # shingle_array already array_distinct's per doc, so (doc_id, gh) is
    # unique post-join: count(*) ≡ count(DISTINCT gh) without the extra
    # (doc_id, gh)-keyed dedup exchange a distinct-aggregate would plan
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("matched_ngrams"))
        .filter(F.col("matched_ngrams") >= min_matches)
    )


# ------------------------------------------------------------------ minhash-lsh


def minhash_signatures(
    docs: DataFrame, n: int = 3, num_hashes: int = 128, text_col: str = "text"
) -> DataFrame:
    """(doc_id, shingles, sig) — sig[i] = min over shingles of a seeded
    64-bit hash.

    Physical shape: explode shingles once, hash each to a long, evaluate
    the num_hashes seeded xxhash64 columns flat over that long (whole-stage
    codegen — array_min over transform() would run interpreted; seeding a
    pre-hashed 8-byte key instead of the string hashes primitives 128×
    cheaper and is still a proper minhash family), then ONE
    map-side-combinable groupBy with num_hashes min() aggregates; the
    hashed shingle set rides along via collect_list (shingles are distinct
    per doc by construction, so their hashes are too modulo 64-bit
    collisions). Shuffle volume after partial aggregation:
    docs × (num_hashes + shingles) longs.
    """
    ex = (
        shingles(_parallelize(docs), n, text_col)
        # shingle_array always yields ≥1 element → explode_nonempty
        .select("doc_id", explode_nonempty(F.col("shingles")).alias("s"))
        .select("doc_id", F.xxhash64("s").alias("sh"))
    )
    hmins = [
        F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    agg = ex.groupBy("doc_id").agg(F.collect_list("sh").alias("shingles"), *hmins)
    return agg.select(
        "doc_id",
        "shingles",
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def jaccard_expr() -> Column:
    """THE exact-Jaccard scoring convention over distinct-shingle array
    columns `sh_a`/`sh_b`: |∩| / (|A| + |B| - |∩|), rounded to 6.
    Shared by every verifier (self-join here, the broadcast asymmetric
    shape in selection.decontaminate_fuzzy) — a second inline copy of
    the denominator/rounding is a drift hazard, same rule as
    band_buckets for the banding scheme."""
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    return F.round(common / (F.size("sh_a") + F.size("sh_b") - common), 6)


def _verify_jaccard(cand: DataFrame, sigs: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs: join the stored
    (distinct) shingle arrays onto both sides and keep pairs at or above
    threshold. minhash_lsh_pairs and the incremental index pin
    `incremental ≡ full recompute`, so both route through the one
    jaccard_expr convention."""
    sh = sigs.select("doc_id", "shingles")
    return (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
            "doc_b",
        )
        .withColumn("jaccard", jaccard_expr())
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact Jaccard:
    (doc_a, doc_b, jaccard).

    With r = num_hashes/bands rows per band, a pair of true Jaccard j
    collides in ≥1 band with prob 1-(1-j^r)^bands — at 128/32 the curve is
    steep around j≈0.45, so recall at threshold 0.5 is ~1. Candidates are
    generated per band bucket (shuffle O(docs×bands)) and verified exactly
    via array_intersect on the (distinct) shingle arrays.
    """
    # signatures feed banding AND both sides of the verification join:
    # materialize them once (docs × (shingles + num_hashes longs) — the
    # same artifact a production LSH pipeline would write out)
    sigs = minhash_signatures(docs, n, num_hashes).persist()
    # band keys via the ONE shared derivation (band_buckets) — the
    # incremental index path pins `incremental ≡ minhash_lsh_pairs`, so
    # a second inline copy of the banding scheme is a drift hazard
    # explicit co-partition on the band keys: the join's OUTPUT is the
    # per-bucket pair production but AQE coalesces the input exchanges
    # on INPUT bytes (the r9 srp/wedge-join pattern, guide §2.5); both
    # aliases read ONE exchange (ReuseExchange — same frame, same keys)
    buckets = band_buckets(sigs, num_hashes, bands).repartition(
        sigs.sparkSession.sparkContext.defaultParallelism, "band", "key"
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    verified = _verify_jaccard(candidates, sigs, threshold)
    return _finish(verified, sigs)


# ------------------------------------------------------------------ simhash


def portable_word_hash(c: Column) -> Column:
    """Deterministic 60-bit hash reproducible in any engine with md5:
    first 15 hex chars of md5 interpreted as an integer."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def simhash_fingerprints(docs: DataFrame, bits: int = 60, text_col: str = "text") -> DataFrame:
    """(doc_id, fingerprint) — classic SimHash over distinct words.

    bit k of the fingerprint is 1 iff sum over words of ±1 (sign = word-hash
    bit k) is positive. Explode words once, explode bit index, two
    map-side-combinable groupBys — simple expressions that plan and codegen
    fast. (A wide 60-conditional-sum single groupBy was measured ~2x slower
    end-to-end: the giant generated aggregate costs >10 s of one-time
    planning/JIT, dwarfing the saved explode.) Partial aggregation caps the
    first shuffle at docs × bits rows regardless of corpus token count.
    """
    # explicit null-text filter replaces the row-drop the inner explode
    # performed implicitly (split(NULL) → NULL array); with non-null text
    # the distinct-word array is never null/empty → explode_nonempty
    w = _parallelize(docs).filter(F.col(text_col).isNotNull()).select(
        "doc_id",
        explode_nonempty(F.array_distinct(_word_array(text_col))).alias("word"),
    ).select("doc_id", portable_word_hash(F.col("word")).alias("hv"))
    per_bit = (
        w.select("doc_id", "hv", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("k"))
        .groupBy("doc_id", "k")
        .agg(
            F.sum(
                F.when(F.expr("shiftright(hv, k) & 1") == 1, 1).otherwise(-1)
            ).alias("s")
        )
    )
    return per_bit.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), k)")).otherwise(0)
        ).alias("fingerprint")
    )


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 6, bits: int = 60, banded: bool = False
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs with Hamming(fingerprint) ≤ max_hamming.

    banded=False: exact O(n²) comparison (fine up to ~10⁵ docs — the pair
    predicate is a codegen'd xor+bit_count).
    banded=True: the 100 TB path — split the fingerprint into
    (max_hamming+1) chunks; by pigeonhole any pair within max_hamming shares
    at least one exact chunk, so candidates come from equi-joins on chunk
    values and the Hamming check runs only on candidates. Same result set.

    Chunk assignment is ENTROPY-INTERLEAVED, not contiguous: natural
    corpora produce correlated fingerprints (common words dominate every
    doc's bit sums — measured 17/60 near-constant bits on a 10x synthetic
    corpus), and a contiguous chunk that lands on mostly-degenerate bits
    has an effective key space of a few values, so one bucket swallows
    half the corpus (measured: 24.6k of 50k docs in one bucket → 1.16 B
    candidate collisions). Pigeonhole only requires the chunks to
    PARTITION the bit positions — any assignment is exact — so bits are
    ranked by measured balance (|p₁ − 0.5|, one 1-row aggregate over the
    already-persisted fingerprints) and dealt round-robin, giving every
    chunk its share of informative bits and near-uniform keys.
    """
    # fingerprints feed both sides of the pair join: one row per doc, one
    # long each — materialize instead of re-hashing the corpus twice
    fp = simhash_fingerprints(docs, bits).persist()
    if not banded:
        a, b = fp.alias("a"), fp.alias("b")
        pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
    else:
        chunks = max_hamming + 1
        # rank bits by balance (most informative first), deal round-robin
        bal = fp.select(
            *[
                F.avg(
                    F.shiftright("fingerprint", k).bitwiseAND(F.lit(1)).cast("double")
                ).alias(f"b{k}")
                for k in range(bits)
            ]
        ).first()
        order = sorted(
            range(bits),
            key=lambda k: (abs((bal[f"b{k}"] or 0.0) - 0.5), k),
        )
        chunk_bits: list[list[int]] = [[] for _ in range(chunks)]
        for i, k in enumerate(order):
            chunk_bits[i % chunks].append(k)

        def chunk_key(c: int):
            expr = F.lit(0).cast("long")
            for j, k in enumerate(chunk_bits[c]):
                expr = expr + F.shiftleft(
                    F.shiftright("fingerprint", k).bitwiseAND(F.lit(1)).cast("long"),
                    j,
                )
            return expr.alias(f"c{c}")

        keyed = fp.select(
            "doc_id", "fingerprint", *[chunk_key(c) for c in range(chunks)]
        )
        buckets = keyed.select(
            "doc_id",
            "fingerprint",
            explode_nonempty(
                F.array(*[F.struct(F.lit(c).alias("chunk"), F.col(f"c{c}").alias("key")) for c in range(chunks)])
            ).alias("bk"),
        ).select("doc_id", "fingerprint", "bk.chunk", "bk.key")
        # TWO scale rules, both measured on a synthetic 10x SF where 17
        # of 60 fingerprint bits were near-constant (common words
        # dominate every doc's bit sums — natural corpora correlate):
        # (1) the Hamming cut (one codegen'd xor+bit_count) runs INSIDE
        #     the join, before any distinct — 50k docs produced 1.16 B
        #     bucket collisions; a distinct on raw collisions shuffles
        #     all of them, filtering first pipelines with the join so
        #     only true ≤max_hamming pairs reach an exchange;
        # (2) the self-join is salted (_salted_self_pair_join) — the
        #     hottest chunk bucket held 24.6k docs = 303 M productions
        #     in ONE key group otherwise.
        a, b, cond = _salted_self_pair_join(buckets, ["chunk", "key"], "doc_id")
        pairs = (
            a.join(b, cond)
            .withColumn(
                "hamming",
                F.bit_count(
                    F.col("a.fingerprint").bitwiseXOR(F.col("b.fingerprint"))
                ),
            )
            .filter(F.col("hamming") <= max_hamming)
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                "hamming",
            )
            .distinct()
        )
        return _finish(pairs, fp)
    return _finish(
        pairs.withColumn(
            "hamming",
            F.bit_count(F.col("a.fingerprint").bitwiseXOR(F.col("b.fingerprint"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "hamming",
        ),
        fp,
    )


# ------------------------------------------------------------------ embeddings


def _vec_frame(emb: DataFrame, vec_col: str):
    """(non-null-vector frame, dim) for the embedding pair operators.

    NULL vectors carry nothing to score — dropped declaratively (a NULL
    first row would otherwise crash the dim sniff on the driver, and a
    NULL mid-table crashes the SRP numpy batch). A vector of a DIFFERENT
    length than the sniffed dim raises via assert_true instead of
    silently producing NULL dot products the threshold filter would hide
    as missed pairs. dim is 0 on an empty/all-NULL table."""
    e = emb.filter(F.col(vec_col).isNotNull())
    first = e.select(vec_col).first()
    if first is None:
        return e, 0
    dim = len(first[0])
    ok = F.assert_true(
        F.size(F.col(vec_col)) == dim,
        F.lit(f"ragged embedding table: expected dim {dim}"),
    )
    # assert rides in the filter condition (coalesce(NULL-on-pass, True))
    # so column pruning can't drop it
    return e.filter(F.coalesce(ok.cast("boolean"), F.lit(True))), dim


def embedding_cosine_pairs(
    emb: DataFrame, threshold: float = 0.9, vec_col: str = "embedding"
) -> DataFrame:
    """Near-duplicate vector pairs by cosine ≥ threshold:
    (vec_a, vec_b, cosine). Exact pairwise scoring, no UDF, no Python.

    The embedding dimension is fixed per table, so the dot product is
    unrolled into a flat dim-term expression at plan time — whole-stage
    codegen'd, where a zip_with+aggregate fold would run interpreted per
    pair (~10× slower). The cross join is the correctness baseline; at
    scale use operators.embeddings_gemm (block matrix product) or
    pre-bucket with operators.similarity.ivf_assign and join within cells.
    """
    if threshold <= 0:
        # the `+ 0.0*rand` pushdown barrier below maps a -0.0 cosine to
        # +0.0; the bit-identity argument therefore needs the filter to
        # reject everything <= 0 — enforced (ADVICE r8), as in
        # _cosine_verify, rather than assumed
        raise ValueError("embedding_cosine_pairs: threshold must be > 0")
    emb, dim = _vec_frame(emb, vec_col)
    if dim == 0:
        return emb.sparkSession.createDataFrame(
            [], "vec_a long, vec_b long, cosine double"
        )
    v = F.col(vec_col).cast("array<double>")
    # floored like similarity._norm: a zero-norm embedding normalizes to
    # the zero vector (cosine 0 everywhere) instead of an ANSI
    # DIVIDE_BY_ZERO aborting the job
    norm = F.greatest(
        F.sqrt(
            functools.reduce(
                operator.add, [v.getItem(i) * v.getItem(i) for i in range(dim)]
            )
        ),
        F.lit(1e-300),
    )
    # pre-normalize in TWO projections: the norm is aliased to a column
    # and the per-element divisions reference that attribute. Inlining the
    # norm subtree into all dim array slots (the old shape) builds an
    # O(dim²) expression tree that cost ~18 s of driver-side Catalyst
    # analysis before the first task at dim=64; the split keeps the tree
    # O(dim) and CollapseProject will not re-inline a non-cheap expression
    # referenced dim times. Same arithmetic per element → identical values.
    e = (
        _parallelize(emb)
        .select(F.col("vec_id"), v.alias("__v"), norm.alias("__n"))
        .select(
            "vec_id",
            F.array(
                *[
                    (F.col("__v").getItem(i) / F.col("__n")).alias(f"x{i}")
                    for i in range(dim)
                ]
            ).alias("v"),
        )
        .persist()
    )
    a, b = e.alias("a"), e.alias("b")
    dot = functools.reduce(
        operator.add,
        [F.col("a.v").getItem(i) * F.col("b.v").getItem(i) for i in range(dim)],
    )
    # The `+ 0.0 * rand` term is a PUSHDOWN BARRIER, not arithmetic: a
    # deterministic `cosine` lets the optimizer fold the threshold filter
    # into the nested-loop JOIN CONDITION, where the 64-term dot product
    # is evaluated per candidate pair by the interpreted predicate path
    # AND ahead of the cheap vec_id<vec_id cut (measured 396 task-seconds
    # for 4M candidates, ~100 us/pair). Marked nondeterministic, the
    # projection stays ABOVE the join in a whole-stage-codegen'd Project,
    # the join condition keeps only the id cut, and the score runs once
    # per surviving pair at codegen speed. Values are bit-identical:
    # x + 0.0*rand == x for every finite x (the filter admits only
    # cosine >= threshold > 0, so the -0.0+0.0 sign edge cannot surface).
    cosine = F.round(dot, 6) + F.lit(0.0) * F.rand(42)
    return _finish(
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "cosine",
        ),
        e,
    )


def _srp_sig_frame(emb: DataFrame, vec_col: str, P, bands: int) -> DataFrame:
    """(vec_id, keys array<int> [one per band], sig array<long> [packed
    full signature]) — the SRP signature pass shared by the self-join
    (embedding_srp_pairs) and cross-corpus (embedding_srp_join) paths:
    one BLAS product per Arrow batch, the only non-JVM stage either runs."""
    import numpy as np
    import pandas as pd

    planes = int(P.shape[0])
    r = planes // bands
    weights = 1 << np.arange(r)
    n_words = -(-planes // 64)

    def sig_iter(batches):
        for pdf in batches:
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            bits = (V @ P.T) >= 0
            keys = [
                (bits[:, b * r : (b + 1) * r] * weights).sum(axis=1)
                for b in range(bands)
            ]
            words = np.zeros((len(V), n_words), dtype=np.uint64)
            for p in range(planes):
                words[:, p // 64] |= bits[:, p].astype(np.uint64) << np.uint64(p % 64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "keys": list(np.stack(keys, axis=1).astype("int32")),
                    "sig": list(words.astype("int64")),
                }
            )

    # _parallelize: the embedding table arrives as one split at small
    # inputs, serializing the BLAS signature pass onto one core
    # (measured 3.25 s single-task at sf0.1); no-op at real scale
    return _parallelize(emb.select("vec_id", vec_col)).mapInPandas(
        sig_iter, "vec_id long, keys array<int>, sig array<long>"
    )


def _salted_self_pair_join(
    buckets: DataFrame,
    key_cols: list[str],
    id_col: str,
    salt: int = 32,
):
    """Skew-proof self-join for banded candidate generation: all
    (a, b) rows with equal `key_cols` and a.id < b.id, as (a_frame,
    b_frame, join_cond) for the caller to select from.

    Correlated corpora make band keys skew hard (measured on a 10x
    synthetic SF: one SimHash chunk bucket held 24.6k of 50k docs →
    303 M pair productions in ONE sort-merge-join key group = one task,
    load average 1 on a 32-core host). Salting restores parallelism
    EXACTLY: each member gets a deterministic block in [0, salt) from
    xxhash64(id); side A replicates each row to every target block, the
    join adds (a.target_block = b.block) to the key, so every bucket's
    pair production splits into `salt` independent key groups of
    |bucket|·|bucket|/salt pairs. Output pair set is identical — every
    (a, b) meets exactly once, at a.target_block = b.block. Costs a
    salt-factor replication of the (small) bucket-stream A side, not of
    the pair stream; uniform corpora pay that constant and nothing else.
    """
    # Explicit co-partition on the FULL join key (bucket keys + salt
    # block): the join's OUTPUT is the per-bucket pair production — far
    # larger than its inputs — but AQE coalesces the input exchanges on
    # INPUT bytes (measured: the srp candidate+verify stage ran 24.7
    # task-seconds on 8 tasks at 32 cores). repartition is exempt from
    # coalescing and the join reuses the layout (same keys positionally
    # on both sides — no extra exchange); including the salt column
    # keeps a hot bucket split into `salt` independent partitions, which
    # is the whole point of the salt (guide §2.5; the r8 wedge-join fix).
    P = buckets.sparkSession.sparkContext.defaultParallelism
    a = (
        buckets.withColumn(
            "__tb", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        .repartition(P, *key_cols, "__tb")
        .alias("a")
    )
    b = (
        buckets.withColumn(
            "__blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt))
        )
        .repartition(P, *key_cols, "__blk")
        .alias("b")
    )
    cond = (F.col("a.__tb") == F.col("b.__blk")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    for k in key_cols:
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    return a, b, cond


def _cosine_verify(
    cand: DataFrame,
    sides: list[tuple[DataFrame, str]],
    threshold: float,
    vec_col: str,
    dim: int,
) -> DataFrame:
    """Exact cosine verification of candidate id pairs — the closing
    stage shared by the SRP self-join and cross-corpus paths. `sides`
    is [(frame, id_alias)] for the pair's two id columns (the same
    frame twice for a self-join). Two equi-joins attach UNIT-NORMALIZED
    vectors (norm folded once per VECTOR in its own projection — the
    embedding_cosine_pairs shape), then the dim-unrolled dot runs as a
    flat codegen expression once per surviving pair, with the
    `+ 0.0*rand` pushdown barrier keeping the scoring projection out of
    any join/filter condition.

    Replaces the round-5 Arrow/BLAS pass: shipping two 64-dim doubles
    per candidate across the Python boundary (~1 KB each) dominated the
    stage at ~1.6M candidates (112 task-seconds measured at sf0.1,
    round 9) — the r8 embedding_cosine work showed the fold-above-join
    JVM shape scores the same volume in ~1-2 task-seconds. Values: the
    normalized-dot float structure differs from raw-dot-then-divide in
    the last ulp only, absorbed by the family-wide round(cosine, 6)
    contract (the DuckDB oracle computes with its own structure and
    both paths hash-match it).
    """
    if threshold <= 0:
        # the pushdown barrier's bit-identity argument needs the filter
        # to reject -0.0 (x + 0.0*rand maps -0.0 to +0.0) — enforced, as
        # in embedding_cosine_pairs, rather than assumed
        raise ValueError("_cosine_verify: threshold must be > 0")
    (fa, a_name), (fb, b_name) = sides
    v = F.col(vec_col).cast("array<double>")
    norm = F.greatest(
        F.sqrt(
            functools.reduce(
                operator.add,
                [v.getItem(i) * v.getItem(i) for i in range(dim)],
            )
        ),
        F.lit(1e-300),
    )

    def unit(f: DataFrame, id_alias: str, out_col: str) -> DataFrame:
        # two projections, like embedding_cosine_pairs: norm aliased to
        # its own column so the tree stays O(dim), not O(dim²)
        return f.select(
            F.col("vec_id").alias(id_alias), v.alias("__v"), norm.alias("__n")
        ).select(
            id_alias,
            F.array(
                *[
                    (F.col("__v").getItem(i) / F.col("__n")).alias(f"x{i}")
                    for i in range(dim)
                ]
            ).alias(out_col),
        )

    joined = cand.join(unit(fa, a_name, "__va"), a_name).join(
        unit(fb, b_name, "__vb"), b_name
    )
    dot = functools.reduce(
        operator.add,
        [
            F.col("__va").getItem(i) * F.col("__vb").getItem(i)
            for i in range(dim)
        ],
    )
    cosine = F.round(dot, 6) + F.lit(0.0) * F.rand(42)
    return (
        joined.withColumn("cosine", cosine)
        .filter(F.col("cosine") >= threshold)
        .select(a_name, b_name, "cosine")
    )


def embedding_srp_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    planes: int = 128,
    bands: int = 32,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs via banded SRP-LSH, verified exactly:
    (vec_a, vec_b, cosine ≥ threshold). The 100 TB path for embedding
    dedup — the cross join in embedding_cosine_pairs and the B×-replicated
    GEMM both scale superlinearly, while here candidate generation is an
    equi-join on (band, key) buckets: shuffle O(vectors × bands).

    Same structure as MinHash-LSH for Jaccard, with random-hyperplane
    signatures for the angular metric (Charikar '02): bit = sign of dot
    with a reproducible hyperplane; a pair at cosine j collides in ≥1 of
    the 32 4-bit bands with prob 1-(1-p^4)^32, p = 1 - acos(j)/π — ≈0.9997
    at j=0.45 and →1 above it, so verified recall is 1 in practice (the
    oracle IS the exact pair set; a missed pair would fail the gate).

    The 128 plane dots are a (batch × dim)·(dim × planes) BLAS product in
    mapInPandas (Arrow batches) — an 8k-term codegen expression would
    compile for minutes; signatures are one narrow pass, computed once.

    Between banding and exact verification sits a SIGNATURE-HAMMING
    prefilter: the full 128-bit signature rides along with the bucket
    rows (2 longs), and a candidate survives only if its bit-agreement
    fraction clears a bound DERIVED from the threshold: mean agreement
    for a pair at cosine t is p = 1 - acos(t)/π, sd = sqrt(p(1-p)/planes),
    and the cut sits 4σ below the mean (P(drop a true boundary pair)
    ≈ 3e-5, dominated by banding's own miss rate). It runs as codegen'd
    bit_count(xor) BEFORE the candidate distinct, cutting the wide
    shuffle ~4× (measured; recall verified unchanged — the oracle is the
    exact pair set). Survivors verify through _cosine_verify — the
    4σ cut is loose by design on label-clustered data (it only bounds
    the BOUNDARY pair's miss rate), so the verify stage is throughput-
    bound and runs as the fold-above-join JVM dot over pre-normalized
    vectors (the embedding_cosine shape; replaced the round-5 Arrow/BLAS
    pass in round 9 — shipping vectors to Python dominated the stage).
    """
    import math

    import numpy as np

    from .similarity import deterministic_hyperplanes

    emb, dim = _vec_frame(emb, vec_col)
    if dim == 0:
        return emb.sparkSession.createDataFrame(
            [], "vec_a long, vec_b long, cosine double"
        )
    P = np.array(deterministic_hyperplanes(planes, dim), dtype=np.float64)
    n_words = -(-planes // 64)
    # Hamming prefilter bound derived from the threshold, not a constant:
    # a pair exactly at `threshold` agrees per-plane with p = 1 - acos(t)/π,
    # so its agreement fraction is Binomial(planes, p)/planes with sd
    # sqrt(p(1-p)/planes). Keep 4σ of slack below the mean so a true pair
    # at the boundary survives with P(drop) ≈ 3e-5 (vs ~1% at the old
    # fixed 0.55 cut on 128 planes / t=0.45) — adapts to any threshold or
    # plane count instead of silently losing recall on different data.
    p_agree = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    sigma = math.sqrt(p_agree * (1.0 - p_agree) / planes)
    min_agree = max(0.0, p_agree - 4.0 * sigma)
    max_disagree = int(planes - math.ceil(min_agree * planes))

    sig = _srp_sig_frame(emb, vec_col, P, bands)
    # both sides of the candidate self-join read this frame: materialize
    # it once or the Python signature pass (the only non-JVM stage) runs
    # twice — same discipline as minhash_lsh_pairs' signatures
    buckets = sig.select(
        "vec_id", "sig", F.posexplode("keys").alias("band", "key")
    ).persist()
    # salted self-join: band keys skew on clustered embeddings exactly
    # like SimHash chunks do on natural text (one hot (band, key) group
    # otherwise serializes the whole candidate production into one task)
    a, b, cond = _salted_self_pair_join(buckets, ["band", "key"], "vec_id")
    hamming = functools.reduce(
        operator.add,
        [
            F.bit_count(
                F.col("a.sig").getItem(wd).bitwiseXOR(F.col("b.sig").getItem(wd))
            )
            for wd in range(n_words)
        ],
    )
    cand = (
        a.join(b, cond)
        .filter(hamming <= max_disagree)
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    return _finish(
        _cosine_verify(
            cand, [(emb, "vec_a"), (emb, "vec_b")], threshold, vec_col, dim
        ),
        buckets,
    )


def embedding_srp_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.45,
    planes: int = 128,
    bands: int = 32,
    vec_col: str = "embedding",
) -> DataFrame:
    """Cross-corpus embedding near-dup join — the EMBEDDING analog of
    fuzzy text decontamination (selection.decontaminate_fuzzy): every
    (left, right) pair with cosine ≥ threshold, found via the SAME
    banded-SRP machinery as embedding_srp_pairs but joining TWO corpora
    signed with one shared hyperplane set ("is any training vector
    semantically a benchmark vector?"). Output: (left_id, right_id,
    cosine ≥ threshold, rounded 6).

    Scale: candidate generation is an equi-join of the two bucket
    streams on (band, key) — shuffle O((|L|+|R|) × bands), never |L|·|R|;
    asymmetric sizes fall out naturally (AQE broadcasts the small
    side's buckets). The signature-Hamming prefilter and exact verify
    follow embedding_srp_pairs exactly, so recall at a given threshold
    is the same 1−(1−p^r)^bands banding bound.
    """
    import math

    import numpy as np

    from .similarity import deterministic_hyperplanes

    left, dim_l = _vec_frame(left, vec_col)
    right, dim_r = _vec_frame(right, vec_col)
    if dim_l == 0 or dim_r == 0:
        return left.sparkSession.createDataFrame(
            [], "left_id long, right_id long, cosine double"
        )
    if dim_l != dim_r:
        raise ValueError(
            f"embedding dims differ: left {dim_l} vs right {dim_r}"
        )
    dim = dim_l
    P = np.array(deterministic_hyperplanes(planes, dim), dtype=np.float64)
    n_words = -(-planes // 64)
    p_agree = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    sigma = math.sqrt(p_agree * (1.0 - p_agree) / planes)
    min_agree = max(0.0, p_agree - 4.0 * sigma)
    max_disagree = int(planes - math.ceil(min_agree * planes))

    def buckets_of(emb):
        return _srp_sig_frame(emb, vec_col, P, bands).select(
            "vec_id", "sig", F.posexplode("keys").alias("band", "key")
        )

    # each bucket stream feeds ONE side of one join — no re-read, so no
    # persist needed (unlike the self-join, where both aliases share one
    # frame)
    lb = buckets_of(left).alias("a")
    rb = buckets_of(right).alias("b")
    hamming = functools.reduce(
        operator.add,
        [
            F.bit_count(
                F.col("a.sig").getItem(wd).bitwiseXOR(F.col("b.sig").getItem(wd))
            )
            for wd in range(n_words)
        ],
    )
    cand = (
        lb.join(
            rb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key")),
        )
        .filter(hamming <= max_disagree)
        .select(
            F.col("a.vec_id").alias("left_id"),
            F.col("b.vec_id").alias("right_id"),
        )
        .distinct()
    )

    return _cosine_verify(
        cand, [(left, "left_id"), (right, "right_id")], threshold, vec_col, dim
    )


# ------------------------------------------------------------------ clustering


def connected_components_alternating(
    pairs: DataFrame,
    nodes: DataFrame,
    max_iter: int = 50,
) -> DataFrame:
    """(doc_id, cluster_id) — same contract as connected_components, via
    the alternating large-star/small-star algorithm ("Connected Components
    in MapReduce and Beyond", Kiveris et al., SoCC'14 — public paper).

    Why a second variant: min-label propagation needs ~diameter rounds, so
    a 10M-node chain (pathological but real in transitive near-dup
    graphs) needs 10M shuffles. Star operations contract the graph to
    rooted stars in O(log² n) rounds REGARDLESS of diameter:

    - large-star: every node u points its LARGER neighbors at
      m = min(Γ(u) ∪ {u});
    - small-star: every node u points its SMALLER neighbors (and itself)
      at m = min(Γ<(u)) — restricted to smaller neighbors, otherwise
      star roots would re-emit (root, min_child) forever and the edge
      set never reaches a fixpoint.

    Both steps are per-u min aggregates joined back to the edge list on u
    (groupBy output partitioning reused by the join — no neighbor lists
    are ever collected, so a 100M-degree hub costs a combinable min, not
    a collect_set OOM). Convergence = edge multiset unchanged (count +
    order-independent hash signature: one tiny action per round).
    Fixpoint edges are (child, root) stars; labels read off them with one
    aggregate. Iteration count is the only driver-side state.
    """
    def step(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        sym2 = large.union(large.select(F.col("v").alias("u"), F.col("u").alias("v")))
        smaller = sym2.filter(F.col("v") < F.col("u"))
        mins2 = smaller.groupBy("u").agg(F.min("v").alias("m"))
        return (
            smaller.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    sigs: list[tuple] = []

    def fixpoint(e: DataFrame) -> bool:
        # bit_xor: order-independent and overflow-free (ANSI mode forbids
        # a plain sum of 64-bit hashes); edges are distinct so xor can't
        # cancel duplicates. This aggregate is the round's ONE action: it
        # materializes the round's lazy checkpoint.
        sigs.append(tuple(e.agg(
            F.count(F.lit(1)).alias("c"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()))
        return len(sigs) > 1 and sigs[-1] == sigs[-2]

    r = Rounds(pairs.sparkSession)
    e = r.run(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        step, max_iter, until=fixpoint,
    )
    if not r.settled:
        raise RuntimeError(
            f"star contraction did not reach a fixpoint in {max_iter} "
            "rounds — raise max_iter (expected O(log² n) rounds)"
        )
    roots = e.groupBy("u").agg(F.min("v").alias("root"))
    return (
        nodes.join(roots, nodes["doc_id"] == roots["u"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("root"), F.col("doc_id")).alias("cluster_id"),
        )
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """(doc_id, cluster_id) — connected components over a near-duplicate
    pair graph; cluster_id = the minimum doc_id reachable from the node
    (singletons label themselves). The canonical 'keep one representative
    per duplicate cluster' step of a dedup pipeline.

    Min-label propagation: each round every node takes the min of its own
    label and its neighbours' labels; converges in <= graph-diameter
    rounds. Each round is two distributed shuffles (join + groupBy) — the
    driver loop only orchestrates; no data passes through it except the
    single converged? flag. localCheckpoint keeps the plan flat across
    iterations (lineage would otherwise grow linearly and swamp the
    optimizer).

    ONE action per round (round 8): the update already sees old and new
    label side by side, so the changed? flag is a column computed in the
    same pass — the checkpoint is lazy and the 1-row changed aggregate is
    the action that materializes it. The previous shape paid a second
    action per round re-JOINING new labels to old (a full extra shuffle)
    just to recover information the update had in hand.

    pairs: (doc_a, doc_b) [any extra columns ignored]
    nodes: (doc_id)
    """
    with Rounds(pairs.sparkSession) as r:
        edges = r.pin(
            pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
            .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        )

        def step(labels: DataFrame) -> DataFrame:
            neighbor_min = (
                edges.join(labels, edges.src == labels.doc_id)
                .groupBy("dst")
                .agg(F.min("cluster_id").alias("nmin"))
            )
            return labels.join(
                neighbor_min, labels.doc_id == neighbor_min.dst, "left"
            ).select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
                # strict-decrease test == "label changed" (labels only
                # ever decrease); NULL nmin (isolated node) → false
                (F.col("nmin") < F.col("cluster_id")).alias("__chg"),
            )

        def unchanged(labels: DataFrame) -> bool:
            return not labels.agg(
                F.max(F.coalesce(F.col("__chg"), F.lit(False)))
            ).first()[0]

        labels = r.run(
            nodes.select("doc_id", F.col("doc_id").alias("cluster_id")),
            step, max_iter, until=unchanged,
        )
        if not r.settled:
            # loop exhausted WITHOUT converging: returning the partially
            # propagated labels would silently split one true component
            # into several cluster_ids (the dedup pipeline then keeps extra
            # near-duplicates). Fail loudly; long-diameter graphs should
            # use connected_components_alternating (O(log² n) rounds).
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                "(graph diameter exceeds max_iter) — raise max_iter or use "
                "connected_components_alternating"
            )
        return labels.drop("__chg")


def keep_best_per_cluster(
    clusters: DataFrame,
    scores: DataFrame,
    score_col: str = "quality",
) -> DataFrame:
    """(doc_id, cluster_id, <score_col>, keep): within each near-dup
    cluster, keep the highest-scoring member (ties to the smallest
    doc_id) — the pipeline refinement of connected_components' keep-min-id
    rule: production dedup keeps the BEST copy (longest, cleanest,
    highest quality), not an arbitrary one.

    One equi-join of the cluster labels onto the score table, one
    row_number window partitioned by cluster_id — a single hash shuffle
    on the cluster key; per-partition sort cost is bounded by cluster
    size, which the upstream pair guard already bounds, so no global
    sort and no skew beyond what the pair stage admits.

    LEFT join + NULLS LAST: a cluster member the score table missed must
    stay in the output (keep=False behind every scored member, min-id
    keeper if nobody is scored) — an inner join would silently drop it,
    and a delete-everything-not-kept consumer would destroy the doc (or
    the whole cluster).
    """
    from pyspark.sql import Window

    j = clusters.join(scores.select("doc_id", score_col), "doc_id", "left")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc_nulls_last(), F.col("doc_id").asc()
    )
    return j.select(
        "doc_id",
        "cluster_id",
        score_col,
        (F.row_number().over(w) == 1).alias("keep"),
    )


def cross_source_dup_matrix(
    docs: DataFrame, source_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """(source_a, source_b, dup_pairs, dup_groups) with source_a <=
    source_b: how many exact-duplicate DOC PAIRS span each pair of
    sources, and how many distinct duplicate text groups contribute —
    the intake-contamination dashboard ("how much does source A copy
    source B?") that decides which feed to dedup against which before a
    training mix is frozen. The diagonal counts within-source
    duplication. The content unit is whatever the input frame's rows
    are — whole docs, exploded k-word passages (the registry entry's
    grain), or CDC chunks — the math is per identical unit either way.

    Per md5 group with per-source copy counts c_s: cross-source pairs
    are c_a*c_b, within-source pairs C(c_s, 2) — counted from the
    (hash, source, count) grid, never by expanding doc pairs. Plan: one
    map-side-combinable groupBy to the grid, a per-hash self-join whose
    fan-out is bounded by the number of SOURCES sharing that hash (tiny,
    co-partitioned on the hash), and a final sources²-row aggregate.
    NULL texts are excluded (exact_duplicates rule: md5(NULL) groups
    would marry unrelated docs); NULL sources form their own bucket via
    a sentinel so copies in an unattributed feed still surface.
    """
    sentinel = "\x00unattributed"
    grid = (
        docs.filter(F.col(text_col).isNotNull())
        .groupBy(
            F.md5(F.col(text_col)).alias("h"),
            F.coalesce(F.col(source_col), F.lit(sentinel)).alias("src"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a, b = grid.alias("a"), grid.alias("b")
    pairs = (
        a.join(b, "h")
        .filter(F.col("a.src") <= F.col("b.src"))
        .select(
            F.col("a.src").alias("source_a"),
            F.col("b.src").alias("source_b"),
            F.when(
                F.col("a.src") == F.col("b.src"),
                F.col("a.c") * (F.col("a.c") - 1) / 2,
            )
            .otherwise(F.col("a.c") * F.col("b.c"))
            .cast("long")
            .alias("np"),
        )
        .filter(F.col("np") > 0)
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.sum("np").alias("dup_pairs"),
            F.count(F.lit(1)).alias("dup_groups"),
        )
        .withColumn(
            "source_a",
            F.when(F.col("source_a") == sentinel, F.lit(None)).otherwise(
                F.col("source_a")
            ),
        )
        .withColumn(
            "source_b",
            F.when(F.col("source_b") == sentinel, F.lit(None)).otherwise(
                F.col("source_b")
            ),
        )
    )


# ------------------------------------------------------- incremental minhash


def band_buckets(
    sigs: DataFrame, num_hashes: int = 128, bands: int = 32, id_col: str = "doc_id"
) -> DataFrame:
    """(id, band, key) bucket rows derived from stored signature arrays.

    Deriving band keys from a PERSISTED `sig` column is num_hashes cheap
    hashes per doc — no re-tokenization, no re-min over shingles (the
    dominant signature cost); this is what makes the stored index below
    incrementally maintainable.
    """
    r = num_hashes // bands
    cols = [
        F.xxhash64(F.lit(b), *[F.col("sig")[b * r + i] for i in range(r)]).alias(
            f"b{b}"
        )
        for b in range(bands)
    ]
    return (
        sigs.select(id_col, *cols)
        .select(
            id_col,
            explode_nonempty(
                F.array(
                    *[
                        F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("key"))
                        for b in range(bands)
                    ]
                )
            ).alias("bk"),
        )
        .select(id_col, "bk.band", "bk.key")
    )


def write_minhash_index(
    docs: DataFrame, name: str, n: int = 3, num_hashes: int = 128
) -> None:
    """Materialize the MinHash signature index (doc_id, shingles, sig)
    as a warehouse table — the artifact a production dedup pipeline
    writes once so history is never re-tokenized. Mirrors the stored
    ANN/postings-index discipline (similarity.write_ivf_index,
    ranking.write_postings_index)."""
    from nsdb_spark.sources.bucketed import _clear_stale_location

    spark = docs.sparkSession
    if not spark.catalog.tableExists(name):
        # dropped-table leftovers block saveAsTable; scheme-aware
        # (Hadoop FS) so a remote warehouse gets the same hygiene
        _clear_stale_location(spark, name)
    minhash_signatures(docs, n, num_hashes).write.mode("overwrite").saveAsTable(name)


def append_minhash_index(
    docs: DataFrame, name: str, n: int = 3, num_hashes: int = 128
) -> None:
    """Incremental maintenance: signatures for the NEW batch only are
    computed and appended; existing index files are untouched."""
    minhash_signatures(docs, n, num_hashes).write.mode("append").saveAsTable(name)


def minhash_incremental_pairs(
    spark,
    name: str,
    is_new,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs INVOLVING at least one new doc, served from
    the stored signature index: (doc_a, doc_b, jaccard), doc_a < doc_b,
    jaccard exact on the stored shingle arrays.

    The incremental-ingest dedup shape: after append_minhash_index, only
    the new batch's band buckets probe the full index — candidate volume
    is O(new_docs × bands + collisions), independent of history size,
    and history pays only the cheap stored-sig band hashing (never
    re-tokenization). Full-recompute equivalence is pinned by the
    invariant test (incremental ≡ minhash_lsh_pairs restricted to
    new-involvement).

    is_new: boolean Column over doc_id marking the newly appended docs.
    """
    sigs = spark.table(name).persist()
    # co-partition both bucket streams on the band keys with an explicit
    # count (AQE-exempt): the probe join's output is the per-bucket
    # collision set, not its input bytes (guide §2.5, the r9 pattern)
    P = spark.sparkContext.defaultParallelism
    all_b = band_buckets(sigs, num_hashes, bands).repartition(P, "band", "key")
    new_b = band_buckets(sigs.filter(is_new), num_hashes, bands).repartition(
        P, "band", "key"
    )
    cand = (
        new_b.alias("a")
        .join(
            all_b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    verified = _verify_jaccard(cand, sigs, threshold)
    return _finish(verified, sigs)


def split_leakage(
    pairs: DataFrame,
    splits: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Cross-split near-duplicate LEAKAGE audit: given a near-dup pair
    set and a split assignment, count pairs per (split, split) cell —
    off-diagonal cells are evaluation leakage (a test doc with a
    near-copy in train inflates every benchmark it touches; the
    within-corpus version of decontaminate_against). The audit that
    should gate any train/val/test split BEFORE training, since
    hash-splitting is oblivious to content similarity by design.

    Two co-partitioned joins attach each endpoint's split to the pair
    set (the pair set is the expensive part and is already computed
    upstream); the grid collapse is map-side-combinable onto ≤ |splits|²
    rows. Cell labels order as (least, greatest) so (train, test) and
    (test, train) fold together.

    Output: (split_a, split_b, n_pairs bigint, is_leak boolean).
    """
    sa = splits.select(
        F.col(id_col).alias("doc_a"), F.col(split_col).alias("__sa")
    )
    sb = splits.select(
        F.col(id_col).alias("doc_b"), F.col(split_col).alias("__sb")
    )
    return (
        pairs.select("doc_a", "doc_b")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("__sa", "__sb").alias("split_a"),
            F.greatest("__sa", "__sb").alias("split_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .withColumn(
            "is_leak", F.col("split_a") != F.col("split_b")
        )
    )


def duplicate_family_sizes(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Distribution of exact-duplicate family sizes: how many groups of
    byte-identical texts exist at each multiplicity — the ONE-glance
    dedup damage report (a corpus with ten 4-copy families is fine; a
    corpus with one 40 000-copy family has a template/mirror problem
    the mean dup rate hides completely), and the number that predicts
    exact-dedup's savings before running it: bytes saved =
    Σ (size − 1)·n_groups·avg_len.

    Two monotonically-shrinking map-side-combinable aggregates on top
    of exact_duplicates' single hash-keyed shuffle: hash groups →
    (size, n_groups). Output rows bounded by the largest family size.

    Output: (family_size bigint, n_families bigint, n_docs bigint
    [size × families], n_excess bigint [(size − 1) × families]).
    """
    fam = exact_duplicates(docs, text_col)
    return (
        fam.groupBy(F.col("dup_count").alias("family_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_families"))
        .select(
            F.col("family_size").cast("long").alias("family_size"),
            "n_families",
            (F.col("family_size") * F.col("n_families"))
            .cast("long")
            .alias("n_docs"),
            ((F.col("family_size") - 1) * F.col("n_families"))
            .cast("long")
            .alias("n_excess"),
        )
    )


def shingle_df_profile(
    docs: DataFrame,
    n: int = 3,
    stop_shingle_df_limit: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Observability for the guarded-jaccard skew defense: the document-
    frequency distribution of the corpus's distinct-shingle stream and
    exactly what the stop-shingle cap would drop. Run this BEFORE a
    100 TB pair join — it answers "how hot is the hottest shingle"
    (max_df² bounds the single worst join group) and "how much pair mass
    does the guard remove" (stop instances fuel df² pair productions).

    One (shingle → df) aggregate over the distinct-shingle stream (the
    exact stream ngram_jaccard_pairs joins on), then a bounded profile
    aggregate. No pair join anywhere — this is the cheap pre-flight.

    Output: one row (n_docs bigint, n_instances bigint, n_distinct
    bigint, df_limit bigint, n_stop bigint, stop_instance_share r6,
    max_df bigint, p99_df r6).
    """
    docs_n = docs.count()
    limit = stop_shingle_df_limit
    if limit is None:
        import math as _math

        limit = max(10, _math.ceil(0.005 * docs_n))
    # (doc_id, sh) is distinct BY CONSTRUCTION (shingle_array is per-doc
    # array_distinct), so no dedup exchange is needed on the exploded
    # string stream; _parallelize spreads the shingling like every other
    # consumer of this stream (it was the one unparallelized site)
    stream = (
        shingles(_parallelize(docs), n, text_col)
        .select("doc_id", explode_nonempty(F.col("shingles")).alias("sh"))
    )
    df_counts = stream.groupBy("sh").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    out = df_counts.groupBy().agg(
        F.sum("df").cast("long").alias("n_instances"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.when(F.col("df") > limit, 1).otherwise(0)).cast("long").alias("n_stop"),
        F.sum(F.when(F.col("df") > limit, F.col("df"))).alias("stop_inst"),
        F.max("df").alias("max_df"),
        F.expr("percentile(df, 0.99)").alias("p99"),
    )
    return out.select(
        F.lit(docs_n).cast("long").alias("n_docs"),
        "n_instances",
        "n_distinct",
        F.lit(limit).cast("long").alias("df_limit"),
        "n_stop",
        F.round(
            F.coalesce(F.col("stop_inst"), F.lit(0))
            / F.col("n_instances").cast("double"),
            6,
        ).alias("stop_instance_share"),
        F.col("max_df").cast("long").alias("max_df"),
        F.round("p99", 6).alias("p99_df"),
    )


def prefix_duplicates(
    docs: DataFrame, k_tokens: int = 8, text_col: str = "text"
) -> DataFrame:
    """Normalized-prefix exact dedup — the cheap first-pass web-corpus
    heuristic: documents sharing their lowercased first k tokens are
    near-certain duplicates (boilerplate reposts, mirrored articles)
    without paying any pair join. One hash groupBy; reports only
    groups with >1 member: (prefix_hash, n_docs, keep_doc_id,
    max_doc_id) with keep = the smallest id, the survivor convention
    the exact-dup family uses."""
    pref = docs.select(
        "doc_id",
        F.md5(
            F.array_join(
                F.slice(F.split(F.lower(F.col(text_col)), " "), 1, k_tokens),
                " ",
            )
        ).alias("prefix_hash"),
    )
    return (
        pref.groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("prefix_hash")
    )
