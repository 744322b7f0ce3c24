"""Byte-pair-encoding tokenizer: distributed training + corpus encode.

The tokenizer-training step of a pretraining pipeline (no analogue in the
reference engine — a training-data extension like operators/selection.py).

Scale design — the corpus is touched ONCE:

1. `word_frequencies`: one map-side-combinable groupBy over the token
   stream → the distinct-word frequency table. At 100 TB the corpus has
   billions of rows but the word table is bounded by vocabulary growth
   (~millions of rows) — every subsequent training iteration runs on THIS
   table, never the corpus (the same trick the original BPE paper and
   every production tokenizer trainer uses).
2. `bpe_train`: per merge step, count adjacent symbol pairs WEIGHTED by
   word frequency (one small aggregate), pick the most frequent pair on
   the driver (1-row collect, ties broken lexicographically for
   determinism), rewrite the symbol arrays (one map), a lazy
   localCheckpoint per round (`rounds.Rounds`) to keep plan depth flat —
   the k-means/pagerank iteration discipline: bounded driver state (the
   merge list), data stays distributed.
3. `bpe_encode`: training already produced each distinct word's final
   segmentation, so encoding is a broadcast join of the corpus token
   stream against the word→tokens table — NO per-word merge loop at
   encode time (the "precomputed segmentation cache" every production
   tokenizer service ships); out-of-vocabulary words fall back to
   character symbols.

Training is iterative (not SQL-expressible → rows-only registry entry,
like PQ/k-means/PageRank); correctness is pinned by unit tests against a
pure-Python reference implementation plus the roundtrip invariant
concat(tokens) == word.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import explode_nonempty as _explode_nonempty
from .rounds import Rounds

#: end-of-word marker appended to each word before training (standard —
#: lets the model distinguish word-final from word-internal pairs).
EOW = "▁"


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) — the ONE corpus pass of tokenizer training."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols() -> F.Column:
    return F.concat(
        F.split(F.col("word"), "").cast("array<string>"),
        F.array(F.lit(EOW)),
    )


def bpe_train(
    docs: DataFrame,
    num_merges: int = 50,
    text_col: str = "text",
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn `num_merges` BPE merges; returns (merges, vocab) with vocab =
    (word, freq, tokens) holding every distinct word's final segmentation.

    Each iteration: adjacent-pair counts = one aggregate over the word
    table (pairs generated with a zip of the symbol array against its own
    tail — pure expressions, no explode of the corpus); best pair chosen
    deterministically (max count, then lexicographic); rewrite = one
    array fold per word. Stops early when no pair repeats.
    """
    merges: list[tuple[str, str]] = []
    best: list = []

    def step(vocab: DataFrame) -> DataFrame:
        pairs = F.zip_with(
            F.slice(F.col("syms"), 1, F.greatest(F.size("syms") - 1, F.lit(0))),
            F.slice(F.col("syms"), 2, F.greatest(F.size("syms") - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
        # the round's ONE action: it materializes the previous round's
        # lazy checkpoint, so the rewrite and the next pair count run in
        # the same action (eager checkpoints cost a second full action
        # per merge: measured 97 jobs for the 30-merge registry entry)
        best[:] = (
            # ≥2-symbols filter + explode_nonempty: identical rows to the
            # inner explode (size-1 words have no pairs) without the
            # Generate pre-filter re-evaluating the zip_with per row
            vocab.filter(F.size("syms") >= 2)
            .select(F.col("freq"), _explode_nonempty(pairs).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("n"))
            .filter(F.col("n") > 1)
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:
            return vocab
        l, r = best[0]["l"], best[0]["r"]
        merges.append((l, r))
        merged = F.lit(l + r)
        # left-to-right single-pass pair rewrite as an array fold: append
        # each symbol, replacing (acc_last, sym) == (l, r) by the merge
        rewrite = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(l))
                & (s == F.lit(r)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        return vocab.select("word", "freq", rewrite.alias("syms"))

    vocab = Rounds(docs.sparkSession).run(
        word_frequencies(docs, text_col).select(
            "word", "freq", _initial_symbols().alias("syms")
        ),
        step, num_merges, until=lambda _: not best,
    )
    return merges, vocab.select("word", "freq", F.col("syms").alias("tokens"))


def _encode_stream(
    docs: DataFrame, vocab: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, stream array<string>) — the shared encode pass:
    posexplode words, broadcast-join the word→tokens table, reassemble
    in word order. OOV words fall back to character symbols (+ EOW)."""
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    ).filter(F.col("word") != "")
    seg = toks.join(
        F.broadcast(vocab.select("word", "tokens")), "word", "left"
    ).select(
        "doc_id",
        "pos",
        F.coalesce(F.col("tokens"), _initial_symbols()).alias("tokens"),
    )
    return seg.groupBy("doc_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "tokens"))
                ),
                lambda s: s["tokens"],
            )
        ).alias("stream")
    )


def bpe_encode(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens_bpe, tokens_digest) — encode the corpus with the
    trained segmentation; md5 digest of the pipe-joined token stream
    makes the full encoding comparable without shipping it.
    """
    per_doc = _encode_stream(docs, vocab, text_col)
    return per_doc.select(
        "doc_id",
        F.size("stream").alias("n_tokens_bpe"),
        F.md5(F.array_join("stream", "|")).alias("tokens_digest"),
    )


def bpe_roundtrip(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_words, n_chars, roundtrip_ok) — decode the encoded
    token stream back to text and compare against the whitespace-
    normalized original (words re-joined by single spaces). BPE is
    lossless by construction: concat(tokens) with EOW→space must
    reproduce the normalized input exactly, for every merge table.

    This is the TRAINING-INVARIANT projection of the tokenizer: the
    token boundaries depend on the learned merges (iterative — not
    SQL-expressible), but the decode result doesn't, so a SQL oracle can
    pin (n_words, n_chars, roundtrip_ok=true) per document from the raw
    corpus alone and any encoder/decoder corruption (lost symbol,
    misordered word, broken OOV fallback) flips roundtrip_ok. Merge-
    table semantics are pinned separately against bpe_reference_encode
    in unit tests. Same single-scan encode plan as bpe_encode plus one
    broadcast join back to the originals.
    """
    per_doc = _encode_stream(docs, vocab, text_col)
    decoded = F.rtrim(
        F.translate(F.array_join("stream", ""), EOW, " ")
    )
    return (
        per_doc.join(
            docs.select("doc_id", F.col(text_col).alias("__text")), "doc_id"
        )
        .select(
            "doc_id",
            F.col("stream"),
            decoded.alias("__decoded"),
            F.array_join(
                F.filter(
                    F.split(F.col("__text"), " "), lambda w: w != ""
                ),
                " ",
            ).alias("__norm"),
        )
        .select(
            "doc_id",
            F.size(F.split("__norm", " ")).cast("long").alias("n_words"),
            F.length("__norm").cast("long").alias("n_chars"),
            (F.col("__decoded") == F.col("__norm")).alias("roundtrip_ok"),
        )
    )


def bpe_reference_encode(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pure-Python reference: apply the merge list in order, each as one
    left-to-right pass — the semantics bpe_train's rewrite implements.
    Used by tests to pin the distributed trainer/encoder."""
    syms = list(word) + [EOW]
    for l, r in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == l and s == r:
                out[-1] = l + r
            else:
                out.append(s)
        syms = out
    return syms
