"""Text analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure pyspark.sql expressions — single narrow projection per operator
(no shuffle, no UDF), so they compose with scans at 100 TB: Catalyst prunes
to the `text` column and pipelines everything into one codegen stage.

Every formula is deliberately portable SQL arithmetic (the same computation
is expressible in any ANSI engine) so results can be oracle-checked.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import explode_nonempty as _explode_nonempty
from .rounds import Rounds

# Small per-language stopword lists (public common words). The heuristic is
# a plain stopword-hit count — deterministic and engine-portable; swap in a
# real n-gram model behind the same column contract for production use.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "mit", "von", "den", "nicht", "ein"],
    "es": ["el", "la", "de", "que", "los", "por", "con", "una", "para", "es"],
    "fr": ["le", "la", "les", "des", "est", "que", "pour", "dans", "une", "sur"],
    "zh": ["de5", "shi4", "bu4", "wo3", "zai4", "you3", "le5", "ren2", "ta1", "men5"],
}
#: deterministic tie-break precedence (first wins on equal scores)
LANG_ORDER = ["en", "de", "es", "fr", "zh"]


def _words(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def _bigrams(words: Column) -> Column:
    """Adjacent word pairs "w1 w2" via a zip of the array against its own
    tail — the ONE bigram construction shared by top_bigrams,
    repetition_scores, and bigram_pmi (no per-doc self-join)."""
    n = F.greatest(F.size(words) - 1, F.lit(0))
    return F.zip_with(
        F.slice(words, 1, n),
        F.slice(words, 2, n),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def _stop_hits(words: Column, stopwords: list[str]) -> Column:
    return F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in stopwords])))


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang, lang_score) — stopword-hit language guess.

    lang_score = hits of the winning language on *distinct* words; ties
    resolve by LANG_ORDER precedence.
    """
    words = F.array_distinct(_words(text_col))
    scores = {lang: _stop_hits(words, sw) for lang, sw in LANG_STOPWORDS.items()}
    best_score = F.greatest(*scores.values())
    # ties resolve by LANG_ORDER precedence: build the when-chain from
    # the lowest-precedence language up so the earliest match wins
    pred = F.lit(LANG_ORDER[-1])
    for lang in reversed(LANG_ORDER[:-1]):
        pred = F.when(scores[lang] == best_score, F.lit(lang)).otherwise(pred)
    # NULL text → NULL prediction: the when-chain's conditions are all
    # NULL for a content-less doc, which would fall through to the seed
    # literal and misattribute every NULL doc to LANG_ORDER[-1] (the SQL
    # oracle's ELSE-less CASE already yields NULL — this matches it)
    pred = F.when(F.col(text_col).isNotNull(), pred)
    return docs.select(
        "doc_id", pred.alias("pred_lang"), best_score.cast("int").alias("lang_score")
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_words, n_distinct_words, stop_ratio, dup_ratio, quality).

    quality ∈ [0,1]: 0.4·stop_ratio + 0.3·(1−dup_ratio) +
    0.3·min(n_words/100, 1). Integer-derived ratios → bit-identical across
    engines. NOTE on stop_ratio's numerator: it counts DISTINCT stopwords
    present (array_intersect dedups), i.e. stoplist COVERAGE normalized
    by length — capped at the stoplist size, so for long documents the
    term decays toward 0 and quality is driven by distinctness + length.
    This is the deliberate cheap signal the oracles/pipelines share, not
    a per-token occurrence ratio (which would need a per-token stoplist
    probe); change both sides together if upgrading.
    """
    words = _words(text_col)
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    stop_hits = _stop_hits(words, LANG_STOPWORDS["en"])  # counts distinct hits
    stop_ratio = F.round(stop_hits / n_words, 6)
    dup_ratio = F.round(1 - n_distinct / n_words, 6)
    quality = F.round(
        0.4 * (stop_hits / n_words)
        + 0.3 * (n_distinct / n_words)
        + 0.3 * F.least(n_words / F.lit(100.0), F.lit(1.0)),
        6,
    )
    return docs.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        n_distinct.cast("int").alias("n_distinct_words"),
        stop_ratio.alias("stop_ratio"),
        dup_ratio.alias("dup_ratio"),
        quality.alias("quality"),
    )


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_ws_tokens, n_alpha_tokens, n_num_tokens, n_bytes) —
    whitespace tokens plus BPE-ish regex token classes."""
    return docs.select(
        "doc_id",
        F.size(_words(text_col)).cast("int").alias("n_ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit("[A-Za-z]+")).cast("int").alias("n_alpha_tokens"),
        F.regexp_count(F.col(text_col), F.lit("[0-9]+")).cast("int").alias("n_num_tokens"),
        F.octet_length(F.col(text_col)).cast("int").alias("n_bytes"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fingerprint) — order-insensitive content fingerprint:
    md5 over the sorted distinct word set. Two docs that are permutations /
    repetitions of the same vocabulary collide (useful as a cheap fuzzy
    dedup key upstream of Jaccard verification)."""
    canon = F.array_join(F.array_sort(F.array_distinct(_words(text_col))), " ")
    return docs.select("doc_id", F.md5(canon).alias("fingerprint"))


def winnow_fingerprints(
    docs: DataFrame, k: int = 8, w: int = 4, text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_fingerprints, fp_digest) — winnowing document
    fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03): hash every
    character k-gram, slide a w-wide window over the hash sequence, keep
    each window's minimum; the distinct minima are the fingerprint set,
    digested to md5 for a compact, oracle-checkable result.

    Physical shape: explode k-gram positions, hash with the portable
    md5-derived 60-bit hash, windowed min per doc (one shuffle by doc_id —
    winnowing needs position order within a doc, nothing across docs),
    distinct + digest. Guarantees shared substrings of length >= k + w - 1
    produce a shared fingerprint — the standard plagiarism/near-dup
    primitive.
    """
    from ..operators.dedup import portable_word_hash

    # NULL texts have no k-grams: without the filter they'd emit an
    # inconsistent row — count(*) counts the NULL-hash row (n=1) while
    # collect_set drops it (digest of the empty set) — and two unrelated
    # NULL docs would "share" a fingerprint
    from ..operators.dedup import _parallelize, explode_nonempty

    docs = docs.filter(F.col(text_col).isNotNull())
    n_pos = F.greatest(F.length(text_col) - (k - 1), F.lit(1))
    # _parallelize: the position explode + per-position substring hash is
    # the expensive stage and would otherwise run at the scan's split
    # count; explode_nonempty because sequence(1, n_pos) with n_pos >= 1
    # (non-null text) is provably non-empty — the inner explode's
    # implicit size>0 filter re-built the O(len) position array per row
    g = _parallelize(docs).select(
        "doc_id",
        n_pos.alias("n_pos"),
        explode_nonempty(F.sequence(F.lit(1), n_pos)).alias("pos"),
        F.col(text_col).alias("__t"),
    ).select(
        "doc_id",
        "n_pos",
        "pos",
        portable_word_hash(F.substring(F.col("__t"), F.col("pos"), k)).alias("h"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    mins = (
        g.withColumn("wmin", F.min("h").over(win))
        .filter(F.col("pos") <= F.greatest(F.col("n_pos") - (w - 1), F.lit(1)))
        .select("doc_id", "wmin")
        .distinct()
    )
    return mins.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_fingerprints"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_set("wmin")), lambda x: x.cast("string")
                ),
                ",",
            )
        ).alias("fp_digest"),
    )


def clean_corpus(
    docs: DataFrame,
    lang: str = "en",
    min_quality: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """End-to-end training-data filter: keep documents that (a) are
    predicted `lang`, (b) score at least `min_quality`, and (c) are the
    canonical keeper (minimum doc_id) of their exact-duplicate group.
    Output: (doc_id, pred_lang, quality) for the surviving corpus.

    The composition pattern of a cleaning pipeline: three independent
    per-doc signals joined on doc_id — each stage is one scan or one
    map-side-combinable groupBy, so the whole pipeline is two shuffles
    (dedup groupBy + the join, which co-partitions by doc_id).
    """
    from .dedup import exact_duplicates

    lid = language_id(docs, text_col).select("doc_id", "pred_lang")
    q = quality_score(docs, text_col).select("doc_id", "quality")
    # reuse the one exact-dedup groupBy (incl. its NULL-text guard —
    # an inline md5 groupBy would pool content-less docs into one fake
    # dup group and crown one of them a keeper)
    keepers = exact_duplicates(docs, text_col).select(
        F.col("keep_id").alias("doc_id")
    )
    return (
        lid.join(q, "doc_id")
        .join(keepers, "doc_id")
        .filter((F.col("pred_lang") == lang) & (F.col("quality") >= min_quality))
        .select("doc_id", "pred_lang", "quality")
    )


def top_bigrams(docs: DataFrame, k: int = 20, text_col: str = "text") -> DataFrame:
    """Corpus-level top-k word bigrams: (bigram, n_occurrences, n_docs,
    rank) — the vocabulary-statistics primitive behind tokenizer training
    and collocation mining.

    Plan: generate adjacent pairs with a zip of the word array against its
    own tail (pure expressions — no self-join), explode, one
    map-side-combinable groupBy, then a global top-k (TakeOrdered after a
    window on a constant is avoided: rank assigned post-limit via a sorted
    window over only k rows)."""
    words = _words(text_col)
    # cheap ≥2-words filter keeps the row-drop the inner explode did
    # implicitly, without the pre-filter re-evaluating the zip_with
    # bigram build (dedup.explode_nonempty rationale)
    exploded = docs.filter(F.size(words) >= 2).select(
        "doc_id", _explode_nonempty(_bigrams(words)).alias("bigram")
    )
    counted = exploded.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    topk = counted.orderBy(
        F.desc("n_occurrences"), F.asc("bigram")
    ).limit(k)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("bigram"))
    return topk.withColumn("rank", F.row_number().over(w))


def repetition_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repetition signals (Gopher-rule shape, Rae et al.
    2021 §A1.1): highly repetitive documents are low-quality training
    data. Per doc:

      n_tokens         token count
      uniq_word_frac   distinct words / words
      dup_bigram_frac  1 - distinct adjacent bigrams / bigrams

    All pure expressions over one scan — no shuffle, no UDF; at 100 TB
    this runs at parquet read speed and composes with clean_corpus as an
    extra filter stage. Fractions round 6 for the oracle contract;
    single-word docs define both fractions as 1.0 and 0.0.
    """
    words = _words(text_col)
    bigrams = _bigrams(words)
    nb = F.greatest(F.size(words) - 1, F.lit(0))
    n = F.size(words)
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(F.size(F.array_distinct(words)) / n, 6).alias("uniq_word_frac"),
        F.round(
            F.when(nb > 0, 1.0 - F.size(F.array_distinct(bigrams)) / nb).otherwise(0.0),
            6,
        ).alias("dup_bigram_frac"),
    )


def tfidf_topk(docs: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Top-k TF-IDF terms per document: (doc_id, term, tf, df, score, rank).

    score = tf · ln(N/df); rank ties broken by term ASC so the result is
    deterministic. Plan: explode → per-(doc,term) count (partial+final
    HashAggregate) → term-keyed shuffle join against the document-frequency
    aggregate → per-doc top-k window. The df side is NOT broadcast: at
    corpus scale the vocabulary is billions of terms, so both sides
    co-shuffle on `term` (Catalyst reuses the df-side exchange), and the
    final window shuffles one row per (doc, term) — already collapsed.
    N comes from a count() action: one scalar, not a driver loop.
    """
    from pyspark.sql import Window

    n_docs = docs.count()
    toks = docs.select("doc_id", F.explode(_words(text_col)).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "score", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", F.round("score", 6).alias("score"), "rank")
    )


def lm_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unigram language-model quality score per document:
    (doc_id, n_tokens, avg_logp) where avg_logp = mean over token
    INSTANCES of ln(count(tok)/total_tokens) — the corpus is its own LM
    (self-perplexity), the classic cheap fluency/quality filter: gibberish
    and boilerplate-heavy docs sit far from the corpus distribution.

    Plan shape mirrors tfidf_topk: explode → token-count aggregate, then a
    token-keyed shuffle join of the token stream against its own counts
    (vocabulary is NOT broadcast — billions of terms at corpus scale),
    then one map-side-combinable per-doc aggregate. total_tokens is a
    count() action: one scalar job, no driver loop. avg_logp rounds to 3
    decimals (FP-accumulated across engines).
    """
    with Rounds(docs.sparkSession) as r:
        toks = r.pin(docs.select("doc_id", F.explode(_words(text_col)).alias("tok")))
        cnt = r.pin(toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")))
        # total from the ALREADY-AGGREGATED vocab table (vocab rows), not a
        # third tokenize pass over the corpus
        total = cnt.agg(F.sum("cnt")).first()[0] or 0
        out = (
            toks.join(cnt, "tok")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.round(F.avg(F.log(F.col("cnt") / F.lit(float(total)))), 3).alias(
                    "avg_logp"
                ),
            )
        )
        return r.finish(out)


def normalize_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical text normalization — the first pass of every cleaning
    pipeline: lowercase, strip everything outside [a-z0-9 ], collapse
    whitespace runs, trim. Output: (doc_id, norm_digest, norm_chars,
    removed_chars) — digested so the check stays compact; real pipelines
    keep the normalized text column instead. Pure projection, pipelines
    with the scan, no shuffle. (Unicode NFC/NFKC folding would slot in
    here as one more regexp/translate step; the synthetic corpus is
    ASCII, so the portable subset is what's exercised.)"""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_digest"),
        F.length(norm).alias("norm_chars"),
        (F.length(text_col) - F.length(norm)).alias("removed_chars"),
    )


def ngram_novelty(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct n-grams
    that appear in NO other document — the data-selection inverse of
    dedup.decontaminate (high novelty = unique content worth keeping;
    near-zero = boilerplate). Output: (doc_id, n_grams, novel_grams,
    novelty rounded 6).

    Shape: explode grams once, a gram-keyed df count (map-side
    combinable; gram hashed to a long like the jaccard family), join the
    ubiquity back onto the exploded frame co-partitioned on the gram key,
    and collapse to one row per doc — two shuffles end to end, no pair
    joins, so it scales linearly where jaccard-style pairing wouldn't.
    shingle_array is per-doc DISTINCT (array_distinct), so the gram
    count IS a true document frequency. The exploded (doc_id, gh) frame
    feeds both the df aggregate and the join probe, so it is persisted —
    16 bytes/gram, computed once instead of re-exploding the corpus.
    """
    from .dedup import _parallelize, shingle_array

    with Rounds(docs.sparkSession) as r:
        # _parallelize: the shingle build is the expensive stage and runs at
        # the scan's split count without it (8 single-task stages at sf0.1);
        # a no-op once the input has >= defaultParallelism splits
        g = r.pin(
            _parallelize(docs).select(
                "doc_id", _explode_nonempty(shingle_array(text_col, n)).alias("g")
            )
            .select("doc_id", F.xxhash64("g").alias("gh"))
        )
        gdf = g.groupBy("gh").agg(F.count(F.lit(1)).alias("df"))
        out = (
            g.join(gdf, "gh")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("novel_grams"),
            )
            .withColumn(
                "novelty", F.round(F.col("novel_grams") / F.col("n_grams"), 6)
            )
        )
        return r.finish(out)


def bigram_pmi(
    docs: DataFrame, k: int = 20, min_count: int = 5, text_col: str = "text"
) -> DataFrame:
    """Top-k adjacent-word collocations by pointwise mutual information:
    (bigram, n_pair, pmi, rank) with PMI = ln(P(w1,w2) / (P(w1)·P(w2)))
    under the bigram/unigram token distributions — raw frequency (see
    top_bigrams) surfaces "of the"; PMI surfaces the phrases that belong
    together, the collocation-mining primitive behind tokenizer merge
    rules and phrase detection (word2vec's phrase pass uses this score).

    Plan: bigrams via the same no-self-join zip-with-tail, ONE
    map-side-combinable count per distribution, and two equi-joins of the
    bigram table to the unigram table on the component words (unigram
    table keyed by single words — orders of magnitude smaller than the
    bigram table, broadcast when it fits; totals are 1-row broadcasts).
    min_count suppresses the low-frequency PMI explosion (a pair seen
    once between two hapaxes maxes the score — standard practice).
    """
    words = _words(text_col)
    pairs = _bigrams(words)
    # both count tables feed multiple consumers (joins + the broadcast
    # totals) — pinned so the corpus is tokenized ONCE per table, not
    # once per consumer
    with Rounds(docs.sparkSession) as r:
        uni = r.pin(
            docs.select(F.explode(words).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("n_w"))
        )
        bi_all = r.pin(
            docs.select(F.explode(pairs).alias("bigram"))
            .groupBy("bigram")
            .agg(F.count(F.lit(1)).alias("n_pair"))
        )
        bi = bi_all.filter(F.col("n_pair") >= min_count)
        tot = uni.agg(
            F.sum("n_w").alias("t_uni"),
        )
        # P(w1,w2) normalizes by ALL bigram tokens, not just the kept rows:
        # totalling after the min_count filter would shift every PMI up by
        # the constant ln(total/kept) — min_count prunes CANDIDATES, it does
        # not re-define the distribution
        tot_bi = bi_all.agg(F.sum("n_pair").alias("t_bi"))
        scored = (
            bi.withColumn("w1", F.split("bigram", " ")[0])
            .withColumn("w2", F.split("bigram", " ")[1])
            .join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1")), "w1")
            .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2")), "w2")
            .crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(tot_bi))
            .select(
                "bigram",
                "n_pair",
                # sort/rank on the UNROUNDED score (repo convention — see
                # ranking._rank_topk); round only for display
                F.log(
                    (F.col("n_pair") / F.col("t_bi"))
                    / ((F.col("n_w1") / F.col("t_uni")) * (F.col("n_w2") / F.col("t_uni")))
                ).alias("__raw"),
            )
        )
        topk = scored.orderBy(F.desc("__raw"), F.asc("bigram")).limit(k)
        w = Window.orderBy(F.desc("__raw"), F.asc("bigram"))
        out = (
            topk.withColumn("rank", F.row_number().over(w))
            .select("bigram", "n_pair", F.round("__raw", 6).alias("pmi"), "rank")
        )
        return r.finish(out)


def js_divergence_by_group(
    docs: DataFrame, group: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group Jensen-Shannon divergence (base-2, in [0, 1]) between
    the group's unigram distribution p and the whole-corpus distribution
    q — the data-mixing diagnostic behind domain weighting: a source
    whose JSD vs the corpus is ~0 adds no distributional diversity; a
    high-JSD source is the one temperature-mixing (sample_domain_mix)
    should up- or down-weight deliberately.

    JSD(p, q) = ½ Σ p·log2(2p/(p+q)) + ½ Σ q·log2(2q/(p+q)). Words the
    group never uses (p = 0) contribute exactly ½·q·log2(2) = q/2, so
    the absent-word mass is folded in analytically as ½·(1 − Σ_present q)
    — the (group × vocab) grid never materializes rows for absent words.
    Plan: corpus collapses to the (group, word) grid in ONE map-side-
    combinable count; the word-level corpus distribution is a second
    aggregate of that grid (not a re-scan); totals broadcast. Everything
    after the first shuffle is grid-sized. NULL text/group rows drop.

    Output: (group, n_words, jsd rounded 6), one row per group.
    """
    with Rounds(docs.sparkSession) as r:
        grid = r.pin(
            docs.filter(F.col(text_col).isNotNull() & F.col(group).isNotNull())
            .select(F.col(group).alias("g"), F.explode(_words(text_col)).alias("w"))
            .groupBy("g", "w")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        gtot = grid.groupBy("g").agg(F.sum("c").alias("gt"))
        corpus = grid.groupBy("w").agg(F.sum("c").alias("cc"))
        ctot = grid.agg(F.sum("c").alias("ct"))
        p = F.col("c") / F.col("gt")
        q = F.col("cc") / F.col("ct")
        m2 = p + q  # 2·m where m = (p+q)/2
        out = (
            grid.join(F.broadcast(gtot), "g")
            .join(corpus, "w")
            .crossJoin(F.broadcast(ctot))
            .groupBy("g")
            .agg(
                F.sum("c").cast("long").alias("n_words"),
                (
                    F.lit(0.5) * F.sum(p * F.log2(F.lit(2.0) * p / m2))
                    + F.lit(0.5) * F.sum(q * F.log2(F.lit(2.0) * q / m2))
                    + F.lit(0.5) * (F.lit(1.0) - F.sum(q))
                ).alias("__jsd"),
            )
            .select(
                F.col("g").alias(group),
                "n_words",
                F.round("__jsd", 6).alias("jsd"),
            )
        )
        return r.finish(out)


def lm_bigram_logprob(
    docs: DataFrame, lam: float = 0.8, text_col: str = "text"
) -> DataFrame:
    """Interpolated bigram language-model score per document —
    lm_logprob's sharper sibling: each transition w1→w2 scores
    ln(λ·P_bi(w2|w1) + (1−λ)·P_uni(w2)) with MLE estimates from the
    corpus itself. The unigram interpolation floor means unseen
    transitions are never −inf, the textbook Jelinek-Mercer smoothing,
    and word-ORDER violations now hurt the score (a shuffled doc keeps
    its unigram score but craters here) — the fluency filter unigram
    self-perplexity can't be.

    Plan: the corpus tokenizes once into a persisted bigram stream; the
    bigram and unigram count tables aggregate from it map-side-
    combinably; scoring joins the stream to the bigram table (bigram-
    keyed co-shuffle — at corpus scale that table is billions of rows
    and is NOT broadcast) and to the unigram table on each side, then
    one per-doc aggregate. Same join discipline as bigram_pmi; totals
    are 1-row broadcasts. avg_logp rounds to 3 decimals (ln + FP
    accumulation across engines, the lm_logprob convention). Docs with
    <2 words have no transitions and drop (n_trans would be 0).

    Output: (doc_id, n_trans, avg_logp rounded 3).
    """
    words = _words(text_col)
    with Rounds(docs.sparkSession) as r:
        # ≥2-words filter + explode_nonempty: same rows as the inner explode,
        # no duplicated zip_with evaluation in a Generate pre-filter
        stream = r.pin(
            docs.filter(F.size(words) >= 2)
            .select("doc_id", _explode_nonempty(_bigrams(words)).alias("bigram"))
            .withColumn("w1", F.split("bigram", " ")[0])
            .withColumn("w2", F.split("bigram", " ")[1])
        )
        bi = stream.groupBy("bigram").agg(F.count(F.lit(1)).alias("n_bi"))
        uni = r.pin(
            docs.select(F.explode(words).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("n_w"))
        )
        tot = uni.agg(F.sum("n_w").alias("t_uni"))
        p_bi = F.col("n_bi") / F.col("n_w1")          # P(w2 | w1)
        p_uni = F.col("n_w2") / F.col("t_uni")        # P(w2)
        out = (
            stream.join(bi, "bigram")
            .join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1")), "w1")
            .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2")), "w2")
            .crossJoin(F.broadcast(tot))
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_trans"),
                F.round(
                    F.avg(F.log(F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni)), 3
                ).alias("avg_logp"),
            )
        )
        return r.finish(out)


def gopher_rule_flags(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 1000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_dup_word_frac: float = 0.6,
    min_stop_hits: int = 1,
) -> DataFrame:
    """Per-document rule-based quality GATES in the Gopher/MassiveText
    style (Rae et al. 2021 §A1.1 heuristics, adapted to this corpus's
    whitespace text): each rule emits its measured value AND a boolean
    flag, plus the conjunction `passes` — unlike quality_score's blended
    scalar, a failed doc shows WHICH rule rejected it, which is what a
    filtering-pipeline audit actually needs (rule hit-rates per source
    are the tuning dashboard).

    Rules: word count in [min_words, max_words]; mean word length in
    [min_mean_word_len, max_mean_word_len]; duplicate-word fraction
    ≤ max_dup_word_frac; at least min_stop_hits distinct stopwords.
    All ratios are integer-derived (exact cross-engine); mean word
    length rounds at 6 BEFORE its bounds compare so both engines gate
    on the identical value. Pure projection — no shuffle, pipelines
    with the scan; NULL text fails every rule with NULL measures.

    Output: (doc_id, n_words, mean_word_len r6, dup_frac r6, stop_hits,
    ok_words, ok_word_len, ok_dup, ok_stop, passes).
    """
    words = _words(text_col)
    n_words = F.size(words)
    # mean word length over the words themselves (total non-space chars /
    # word count) — aggregate() keeps it JVM-side, no second tokenizer
    total_chars = F.aggregate(
        F.transform(words, F.length), F.lit(0), lambda a, x: a + x
    )
    mean_len = F.round(F.try_divide(total_chars, n_words), 6)
    dup_frac = F.round(
        F.lit(1.0) - F.try_divide(F.size(F.array_distinct(words)), n_words), 6
    )
    stop_hits = _stop_hits(words, LANG_STOPWORDS["en"])
    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_word_len = (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
    ok_dup = dup_frac <= max_dup_word_frac
    ok_stop = stop_hits >= min_stop_hits
    return docs.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        mean_len.alias("mean_word_len"),
        dup_frac.alias("dup_frac"),
        stop_hits.cast("int").alias("stop_hits"),
        ok_words.alias("ok_words"),
        ok_word_len.alias("ok_word_len"),
        ok_dup.alias("ok_dup"),
        ok_stop.alias("ok_stop"),
        (ok_words & ok_word_len & ok_dup & ok_stop).alias("passes"),
    )


def vocab_stats_by_group(
    docs: DataFrame, group: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group lexical-richness profile: vocabulary size, total token
    count, type-token ratio, and hapax-legomenon fraction (share of the
    vocabulary appearing exactly once). The corpus-comparison companion
    to quality_score: template/boilerplate sources show low TTR and low
    hapax fraction; OCR noise and spam show pathologically HIGH hapax
    (every garble is unique). Token = whitespace split, the same
    convention as token_stats/fingerprint, so oracles agree on ''
    tokens from repeated spaces too.

    Plan: explode to (group, token), then ONE map-side-combinable
    groupBy(group, token) count — the only data-sized shuffle — and a
    per-group rollup of that collapsed frame. At 100 TB the vocabulary
    frame is the corpus' distinct-token set per group, orders of
    magnitude smaller than the token stream the combiners absorb.

    Output: (group, vocab, total_tokens, hapax, ttr r6, hapax_frac r6).
    """
    tok = docs.filter(
        F.col(group).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(group), F.explode(_words(text_col)).alias("w")
    )
    counts = tok.groupBy(group, "w").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy(group).agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum("n").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("hapax"),
        F.round(
            F.count(F.lit(1)) / F.sum("n").cast("double"), 6
        ).alias("ttr"),
        F.round(
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("hapax_frac"),
    )


def zipf_slope(
    docs: DataFrame, top_n: int = 100, text_col: str = "text"
) -> DataFrame:
    """Zipf's-law fit over the corpus token distribution: OLS slope of
    ln(frequency) on ln(rank) for the top_n most frequent tokens —
    natural text sits near −1; templated/boilerplate corpora flatten
    (slope > −0.7 means a few tokens dominate less than language
    predicts), token-soup noise steepens. The one-number companion to
    vocab_stats_by_group's richness ratios.

    Plan: the (token) count is the only data-sized shuffle (map-side
    combinable, same as vocab_stats); the top-n cut is a bounded
    TakeOrdered by (count DESC, token ASC) — total order, so the rank
    axis is engine-deterministic — and the log-log OLS runs on top_n
    rows, where a single-partition window is free at any corpus size.

    Output one row: (zipf_slope r6, r2 r6, n_tokens bigint).
    """
    tok = docs.filter(F.col(text_col).isNotNull()).select(
        F.explode(_words(text_col)).alias("w")
    )
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("w").asc()).limit(top_n)
    ranked = top.select(
        F.log(
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), F.col("w").asc()))
            .cast("double")
        ).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    m = ranked.agg(F.avg("x").alias("mx"), F.avg("y").alias("my"))
    dx, dy = F.col("x") - F.col("mx"), F.col("y") - F.col("my")
    return (
        ranked.crossJoin(F.broadcast(m))
        .agg(
            F.round(F.sum(dx * dy) / F.sum(dx * dx), 6).alias("zipf_slope"),
            F.round(
                F.pow(F.sum(dx * dy), 2)
                / (F.sum(dx * dx) * F.sum(dy * dy)),
                6,
            ).alias("r2"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )


def langid_confusion(
    docs: DataFrame, label_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Confusion matrix of the n-gram/stopword language detector
    against a labeled column — the accuracy audit that should precede
    trusting language_id for corpus routing: per (true, predicted)
    pair, the count and the row-normalized share (recall
    decomposition; the diagonal share IS per-language recall).

    language_id is a pure projection, so the matrix costs one scan +
    one map-side-combinable count on the |langs|² grid; row totals
    join back broadcast. NULL labels drop (nothing to audit against).

    Output: (lang, pred_lang, n bigint, row_share r6).
    """
    pred = language_id(docs, text_col=text_col).select(
        "doc_id", "pred_lang"
    )
    joined = (
        docs.filter(F.col(label_col).isNotNull())
        .select("doc_id", label_col)
        .join(pred, "doc_id")
    )
    grid = joined.groupBy(label_col, "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = grid.groupBy(label_col).agg(F.sum("n").alias("__rt"))
    return grid.join(F.broadcast(tot), label_col).select(
        label_col,
        "pred_lang",
        "n",
        F.round(F.col("n") / F.col("__rt"), 6).alias("row_share"),
    )


def compression_ratio(
    docs: DataFrame, text_col: str = "text", level: int = 6
) -> DataFrame:
    """Per-document zlib compression ratio — the CCNet/Gopher-family
    quality signal the n-gram fractions approximate from the other
    side: highly repetitive or templated text compresses far below
    natural prose (ratio ≪ 1 → boilerplate/spam candidate), random or
    already-compressed payloads sit near/above 1. One number that
    catches repetition patterns longer than any fixed n-gram window.

    Compression is genuinely not expressible in DataFrame functions,
    so this is the documented mapInPandas path (SURVEY §7 rule:
    Arrow-batched Pandas, NEVER a row-at-a-time Python UDF): batches
    arrive as pandas Series, zlib runs per batch in one Python loop,
    and the plan stays a single scan → ArrowEvalPython projection —
    no shuffle. Deterministic for a fixed zlib level, but the exact
    byte count is a library property, not SQL-expressible — this is a
    rows-only registry entry with property tests (repetitive <
    natural < random), like BPE.

    Output: (doc_id, n_bytes bigint, n_compressed bigint, ratio r6).
    """
    import pandas as pd  # noqa: F401 — mapInPandas contract

    schema = "doc_id long, n_bytes long, n_compressed long"

    def fn(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            texts = pdf[text_col]
            n_raw, n_comp = [], []
            for t in texts:
                if t is None:
                    n_raw.append(None)
                    n_comp.append(None)
                    continue
                raw = t.encode("utf-8")
                comp = zlib.compress(raw, level)
                n_raw.append(len(raw))
                n_comp.append(len(comp))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_raw,
                    "n_compressed": n_comp,
                }
            )

    # ratio rounds as a Spark column, not python round(): F.round is
    # half-away-from-zero (matching every SQL engine), python's is
    # banker's — the one-ULP divergence the oracle gate catches
    return (
        docs.select("doc_id", text_col)
        .mapInPandas(fn, schema)
        .withColumn(
            "ratio",
            F.round(
                F.try_divide(
                    F.col("n_compressed").cast("double"), F.col("n_bytes")
                ),
                6,
            ),
        )
    )


def source_vocab_overlap(
    docs: DataFrame,
    group: str = "source",
    text_col: str = "text",
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources: for every source
    pair, |shared distinct tokens| / |union| — the corpus-mixing
    diagnostic ("are src3 and src7 the same crawl twice?") one level
    above doc-level dedup: near-identical VOCABULARIES flag whole
    duplicated slices even when individual docs differ.

    The wedge discipline of common_neighbor_similarity pointed at the
    (source, token) bipartite: distinct (source, token) rows collapse
    the corpus (vocabulary-sized, not token-count-sized), pairs
    generate per shared token CO-PARTITIONED ON THE TOKEN — fan-out
    per token = sources-sharing-it², bounded by |groups|² — and
    per-source vocab sizes broadcast back. Output pairs order
    source_a < source_b.

    Output: (source_a, source_b, n_shared bigint, jaccard r6).
    """
    st = (
        docs.filter(F.col(group).isNotNull() & F.col(text_col).isNotNull())
        .select(F.col(group).alias("g"), F.explode(_words(text_col)).alias("t"))
        .distinct()
    )
    vocab = st.groupBy("g").agg(F.count(F.lit(1)).alias("vs"))
    pairs = (
        st.alias("a")
        .join(
            st.alias("b"),
            (F.col("a.t") == F.col("b.t")) & (F.col("a.g") < F.col("b.g")),
        )
        .groupBy(
            F.col("a.g").alias("source_a"), F.col("b.g").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        pairs.join(
            F.broadcast(
                vocab.select(F.col("g").alias("source_a"), F.col("vs").alias("__va"))
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                vocab.select(F.col("g").alias("source_b"), F.col("vs").alias("__vb"))
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("__va") + F.col("__vb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def bigram_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Shannon entropy of the adjacent-bigram
    distribution (nats) — the GRADED repetition signal:
    repetition_scores' dup_bigram_frac says how many bigrams repeat,
    entropy says how concentrated the repetition is (a doc cycling
    two phrases and a doc repeating one both have high dup fractions;
    their entropies differ sharply). Low entropy relative to
    ln(n_bigrams) = template/spam candidate.

    Pure per-doc computation: explode to (doc, bigram) counts (the
    corpus collapses to distinct-bigram rows per doc), then one
    map-side-combinable per-doc entropy aggregate. Single-word docs
    have no bigrams — entropy NULL, n_bigrams 0.

    Output: (doc_id, n_bigrams bigint, entropy r6, max_entropy r6
    [ln of the doc's distinct-bigram count]).
    """
    words = _words(text_col)
    bigrams = _bigrams(words)
    # ≥2-words filter + explode_nonempty (dedup.explode_nonempty rationale)
    d = docs.filter(F.size(words) >= 2).select(
        "doc_id", _explode_nonempty(bigrams).alias("bg")
    )
    cnt = d.groupBy("doc_id", "bg").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = cnt.groupBy("doc_id").agg(F.sum("c").alias("nb"))
    p = F.col("c") / F.col("nb")
    per = (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("nb").cast("long").alias("n_bigrams"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
            F.round(F.log(F.count(F.lit(1)).cast("double")), 6).alias(
                "max_entropy"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias(
                "n_bigrams"
            ),
            "entropy",
            "max_entropy",
        )
    )


def readability(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Flesch reading-ease approximation: words by
    whitespace split, sentences by terminal-punctuation runs (floor 1 —
    a fragment is one sentence), syllables ≈ vowel groups per word
    (the standard cheap estimator; hyphenation dictionaries are a
    quality refinement, not a different operator). flesch = 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/words). The pretraining
    heuristic behind "drop unreadable boilerplate" filters.

    Pure JVM regexp counters on the scan — no UDF, no shuffle, column-
    pruned to (id, text). At 100 TB this is a map-only pass.

    Output: (doc_id, n_words int, n_sentences int, n_syllables int,
    flesch r6); NULL-text rows dropped.
    """
    t = F.col(text_col)
    words = F.regexp_count(t, F.lit(r"[A-Za-z0-9]+")).cast("int")
    sents = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")).cast("int"), F.lit(1)
    )
    syll = F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")).cast("int")
    return docs.filter(t.isNotNull()).select(
        "doc_id",
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syll.alias("n_syllables"),
        F.round(
            F.lit(206.835)
            - 1.015 * F.try_divide(words, sents)
            - 84.6 * F.try_divide(syll, words),
            6,
        ).alias("flesch"),
    )


def hapax_by_source(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source hapax-legomena profile: vocabulary size, the count of
    once-occurring types, and the hapax ratio — the classic lexical-
    richness signal (natural prose runs ~40-60% hapax; template/spam
    text collapses toward 0) that TTR misses because TTR weights all
    types equally.

    explode → ONE (source, token) count aggregate (map-side combinable)
    → ONE per-source combine. The shuffle carries distinct (source,
    token) pairs — vocabulary-bounded, not corpus-bounded.

    Output: (source, n_tokens bigint, vocab bigint, hapax bigint,
    hapax_ratio r6).
    """
    toks = (
        docs.filter(F.col(text_col).isNotNull() & F.col("source").isNotNull())
        .select(
            "source",
            F.explode(
                F.split(F.lower(F.col(text_col)), r"\s+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    per_type = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        per_type.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum((F.col("n") == 1).cast("long")).cast("long").alias("hapax"),
        )
        .select(
            "source", "n_tokens", "vocab", "hapax",
            F.round(
                F.try_divide(F.col("hapax"), F.col("vocab").cast("double")), 6
            ).alias("hapax_ratio"),
        )
    )


def yule_k_by_source(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source Yule's K and Simpson's repeat rate — the length-robust
    lexical-richness pair (hapax_ratio and TTR both drift with corpus
    size; K and D are asymptotically size-invariant, the standard
    repetitiveness fingerprint for spotting template/boilerplate-heavy
    sources before pretraining):

      K = 10⁴ · (Σ_types c_t² − N) / N²
      D = Σ_types c_t(c_t − 1) / (N(N − 1))      (repeat rate)

    Both numerators/denominators are pure INTEGER sums over the type
    counts — bit-exact cross-engine, no float accumulation order to
    worry about. Same tokenization as hapax_by_source (lower, split on
    whitespace runs, drop empties). Plan: explode → ONE (source, token)
    count aggregate (map-side combinable, shuffle carries the
    vocabulary, not the corpus) → ONE per-source combine.

    Output: (source, n_tokens bigint, vocab bigint, yule_k r6,
    simpson_d r6).
    """
    toks = (
        docs.filter(F.col(text_col).isNotNull() & F.col("source").isNotNull())
        .select(
            "source",
            F.explode(
                F.split(F.lower(F.col(text_col)), r"\s+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    per_type = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    nn = F.col("n_tokens")
    s2 = F.col("s2")
    return (
        per_type.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
        )
        .select(
            "source", "n_tokens", "vocab",
            F.round(
                F.try_divide(1e4 * (s2 - nn), (nn * nn).cast("double")), 6
            ).alias("yule_k"),
            F.round(
                F.try_divide(s2 - nn, (nn * (nn - 1)).cast("double")), 6
            ).alias("simpson_d"),
        )
    )


#: PII patterns shared by pii_scrub and its oracle mirror — RE2-safe
#: (no lookarounds), so the same strings run on Spark (Java regex) and
#: DuckDB (RE2) identically.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}",
    "url": r"https?://[^\s]+",
    "long_digits": r"[0-9]{9,}",
}


def pii_scrub(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document PII scrub for training-data pipelines: count and
    mask emails, phone-shaped numbers, URLs, and ≥9-digit runs
    (account/SSN-shaped), emitting the per-pattern hit counts and an
    md5 digest of the scrubbed text (the digest travels instead of the
    text so the result frame stays narrow). Patterns are RE2-safe and
    deliberately conservative — recall-first scrubbing with lookbehind
    context is a model-based refinement, not a regex.

    Map-only JVM regexp pass (regexp_count + chained regexp_replace);
    no shuffle, prunes to (id, text). The [REDACTED_*] masks are
    distinct per class so downstream token statistics can still see
    WHAT was removed.

    Output: (id_col, n_email int, n_phone int, n_url int,
    n_long_digits int, scrub_digest).
    """
    t = F.col(text_col)
    scrubbed = t
    for name, pat in PII_PATTERNS.items():
        scrubbed = F.regexp_replace(
            scrubbed, pat, f"[REDACTED_{name.upper()}]"
        )
    return docs.filter(t.isNotNull()).select(
        id_col,
        F.regexp_count(t, F.lit(PII_PATTERNS["email"])).cast("int").alias("n_email"),
        F.regexp_count(t, F.lit(PII_PATTERNS["phone"])).cast("int").alias("n_phone"),
        F.regexp_count(t, F.lit(PII_PATTERNS["url"])).cast("int").alias("n_url"),
        F.regexp_count(t, F.lit(PII_PATTERNS["long_digits"])).cast("int")
        .alias("n_long_digits"),
        F.md5(scrubbed).alias("scrub_digest"),
    )


def burrows_delta(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    top_n: int = 50,
) -> DataFrame:
    """Burrows' Delta stylometric distance between sources: z-score each
    source's relative frequency of the top_n corpus words (mean/sd
    taken ACROSS sources per word), then Δ(a,b) = mean |z_a − z_b| —
    the standard authorship/style-drift measure (Burrows 2002),
    here answering "which data sources write alike?" for mixture
    design and contamination triage.

    The only data-sized shuffle is the (source, token) count; the top_n
    vocabulary, the source×token densified grid (zeros for absent
    words — REQUIRED, or sd across sources is biased), the per-word
    z-scores, and the source-pair join all run on bounded frames
    (|sources|·top_n cells, |sources|² pairs).

    Output: (source_a, source_b, n_words int, delta r6), a < b.
    """
    toks = (
        docs.filter(F.col(text_col).isNotNull() & F.col(source_col).isNotNull())
        .select(
            F.col(source_col).alias("src"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    counts = toks.groupBy("src", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    totals = counts.groupBy("src").agg(F.sum("n").alias("tot"))
    top = (
        counts.groupBy("tok")
        .agg(F.sum("n").alias("cn"))
        .orderBy(F.col("cn").desc(), F.col("tok").asc())
        .limit(top_n)
        .select("tok")
    )
    grid = (
        totals.crossJoin(F.broadcast(top))
        .join(counts, ["src", "tok"], "left")
        .select(
            "src", "tok",
            (F.coalesce("n", F.lit(0)) / F.col("tot").cast("double")).alias("f"),
        )
    )
    stats = grid.groupBy("tok").agg(
        F.avg("f").alias("mu"), F.stddev_samp("f").alias("sd")
    )
    z = grid.join(F.broadcast(stats), "tok").select(
        "src", "tok",
        F.round(
            F.try_divide(F.col("f") - F.col("mu"), F.col("sd")), 6
        ).alias("z"),
    )
    a, b = z.alias("a"), z.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(
            F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b")
        )
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_words"),
            F.round(F.avg(F.abs(F.col("a.z") - F.col("b.z"))), 6).alias(
                "delta"
            ),
        )
    )


def chunk_sliding(
    docs: DataFrame,
    chunk_tokens: int = 128,
    stride: int = 96,
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window token chunking — the context-packing front door of a
    pretraining pipeline: each document yields windows of `chunk_tokens`
    whitespace tokens starting every `stride` tokens (overlap =
    chunk_tokens - stride), the final window truncated.

    One row per chunk: (doc_id, chunk_id, start_tok, n_tok, chunk_digest),
    the digest an md5 of the space-rejoined window so results are
    oracle-checkable without shipping text through the compare.

    Scale shape: everything is JVM-side array expressions (split /
    sequence / slice) + ONE posexplode — no Python, no shuffle; output
    volume is rows x ceil(len/stride), the inherent chunking fan-out.
    Empty/whitespace-only documents yield no chunks (declarative filter).
    """
    w = docs.select("doc_id", _words(text_col).alias("t")).withColumn(
        "n", F.size("t")
    ).filter(F.col("n") > 0)
    starts = F.expr(f"sequence(0, n - 1, {stride})")
    ex = w.select(
        "doc_id", "t", "n", F.posexplode(starts).alias("chunk_id", "start_tok")
    )
    return ex.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        F.least(F.lit(chunk_tokens), F.col("n") - F.col("start_tok")).alias(
            "n_tok"
        ),
        F.md5(
            F.array_join(
                F.slice(F.col("t"), F.col("start_tok") + 1, F.lit(chunk_tokens)),
                " ",
            )
        ).alias("chunk_digest"),
    ).orderBy("doc_id", "chunk_id")


def vocab_coverage(
    docs: DataFrame, vocab_size: int = 1000, text_col: str = "text"
) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build the corpus top-`vocab_size`
    term list (frequency desc, term asc tie-break — deterministic), then
    report each document's out-of-vocabulary token count and rate.

    Scale shape: one token-count aggregate builds the vocab (k rows,
    broadcast); the per-doc pass joins the exploded token stream against
    the broadcast vocab — the corpus shuffles once on (doc_id) for the
    count-back, never on the vocabulary.
    """
    toks = docs.select(
        "doc_id", F.explode(_words(text_col)).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cn"))
        .orderBy(F.col("cn").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("__in_vocab"))
    )
    marked = toks.join(F.broadcast(vocab), "tok", "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("__in_vocab").isNull().cast("long")).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )
