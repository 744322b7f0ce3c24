"""Unit tests for the training-data operators (dedup / similarity / text /
multimodal) on small in-memory corpora."""
import pytest
from pyspark.sql import functions as F

from nsdb_spark.operators import dedup, multimodal, similarity, text
from nsdb_spark.sources import testdata


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (3, "completely different content about spark engines"),
        (4, "tiny"),                                           # shorter than shingle n
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    out = {r["keep_id"]: r["dup_count"] for r in dedup.exact_duplicates(docs).collect()}
    assert out[0] == 2  # docs 0 and 2
    assert out[1] == 1 and out[3] == 1 and out[4] == 1


def test_shingles_short_doc_fallback(docs):
    sh = {r["doc_id"]: r["shingles"] for r in dedup.shingles(docs, 3).collect()}
    assert sh[4] == ["tiny"]
    assert "the quick brown" in sh[0]
    assert len(sh[0]) == 7


def test_ngram_jaccard_pairs(docs):
    out = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
    assert pairs[(0, 2)] == 1.0
    assert (0, 1) in pairs and 0.5 <= pairs[(0, 1)] < 1.0
    assert (0, 3) not in pairs


def test_decontaminate_counts_shared_ngrams(docs):
    # benchmark = doc 2 (byte-identical to doc 0); corpus = the rest
    bench = docs.filter(F.col("doc_id") == 2)
    corpus = docs.filter(F.col("doc_id") != 2)
    out = {r["doc_id"]: r["matched_ngrams"]
           for r in dedup.decontaminate(corpus, bench, n=3).collect()}
    assert out == {0: 7, 1: 6}  # exact copy: all 7 trigrams; near-dup: 6
    strict = {r["doc_id"] for r in
              dedup.decontaminate(corpus, bench, n=3, min_matches=7).collect()}
    assert strict == {0}


def test_decontaminate_short_doc_whole_text_gram(docs):
    # a benchmark doc shorter than n matches via its whole-text gram
    bench = docs.filter(F.col("doc_id") == 4)  # "tiny"
    out = {r["doc_id"]: r["matched_ngrams"]
           for r in dedup.decontaminate(docs, bench, n=3).collect()}
    assert out == {4: 1}


def test_minhash_lsh_matches_exact_jaccard(docs):
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, n=3, num_hashes=64, bands=16, threshold=0.5).collect()
    }
    assert lsh == exact


def test_simhash_exact_dup_has_zero_hamming(docs):
    out = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in dedup.simhash_pairs(docs, max_hamming=10).collect()}
    assert out[(0, 2)] == 0
    assert out.get((0, 1), 99) <= 10  # near-dup within radius


def test_simhash_banded_equals_bruteforce(docs):
    brute = sorted(
        tuple(r) for r in dedup.simhash_pairs(docs, max_hamming=10, banded=False).collect()
    )
    banded = sorted(
        tuple(r) for r in dedup.simhash_pairs(docs, max_hamming=10, banded=True).collect()
    )
    assert brute == banded


@pytest.fixture()
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.95, 0.05]),  # close to 2
        (4, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_cosine_pairs(emb):
    out = {(r["vec_a"], r["vec_b"]): r["cosine"]
           for r in dedup.embedding_cosine_pairs(emb, threshold=0.9).collect()}
    assert (0, 1) in out and (2, 3) in out
    assert (0, 4) not in out and (0, 2) not in out


def test_gemm_pairs_equal_expression_pairs(emb):
    from nsdb_spark.operators.embeddings_gemm import embedding_cosine_pairs_gemm

    expr_pairs = sorted(
        tuple(r) for r in dedup.embedding_cosine_pairs(emb, threshold=0.5).collect()
    )
    gemm_pairs = sorted(
        tuple(r) for r in embedding_cosine_pairs_gemm(emb, threshold=0.5, num_blocks=2).collect()
    )
    assert gemm_pairs == expr_pairs
    # same input contract: a threshold <= 0 is rejected by both
    for fn in (dedup.embedding_cosine_pairs, embedding_cosine_pairs_gemm):
        for bad in (0.0, -0.5):
            with pytest.raises(ValueError, match="threshold must be > 0"):
                fn(emb, threshold=bad)


def test_cosine_topk_gemm_equals_expr(emb):
    from nsdb_spark.operators.embeddings_gemm import cosine_topk_gemm

    expr_topk = [tuple(r) for r in similarity.cosine_topk(emb, [0.9, 0.1, 0.0], k=4).collect()]
    gemm_topk = [tuple(r) for r in cosine_topk_gemm(emb, [0.9, 0.1, 0.0], k=4).collect()]
    assert gemm_topk == expr_topk


def test_cosine_topk(emb):
    out = similarity.cosine_topk(emb, [1.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in out] == [0, 1, 2]
    assert out[0]["cosine"] == 1.0


def test_ivf_topk_full_probe_equals_bruteforce(emb):
    centroids = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    brute = [(r["vec_id"], r["cosine"]) for r in similarity.cosine_topk(emb, [0.9, 0.1, 0.0], k=5).collect()]
    ivf = [(r["vec_id"], r["cosine"]) for r in
           similarity.ivf_topk(emb, [0.9, 0.1, 0.0], centroids, k=5, nprobe=2).collect()]
    assert ivf == brute


def test_ivf_probe_prunes_cells(emb):
    centroids = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [-1.0, 0.0, 0.0]]
    out = similarity.ivf_topk(emb, [1.0, 0.0, 0.0], centroids, k=5, nprobe=1).collect()
    ids = [r["vec_id"] for r in out]
    assert 4 not in ids  # opposite-cell vector pruned
    assert ids[0] == 0


def test_language_id(spark):
    rows = [
        (0, "the cat and the dog of to in is that"),
        (1, "der hund und die katze ist mit von den"),
        (2, "el perro la casa de que los por con"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["pred_lang"] for r in text.language_id(df).collect()}
    assert out == {0: "en", 1: "de", 2: "es"}
    # NULL text → NULL prediction, not a misattribution to the
    # when-chain's seed language (the last of LANG_ORDER)
    dfn = spark.createDataFrame([(9, None)], "doc_id long, text string")
    r = text.language_id(dfn).collect()[0]
    assert r["pred_lang"] is None and r["lang_score"] is None


def test_quality_score(spark):
    df = spark.createDataFrame([(0, "the the the the")], "doc_id long, text string")
    r = text.quality_score(df).collect()[0]
    assert r["n_words"] == 4 and r["n_distinct_words"] == 1
    assert r["stop_ratio"] == 0.25  # 1 distinct stopword hit / 4 words
    assert r["dup_ratio"] == 0.75


def test_token_stats(spark):
    df = spark.createDataFrame([(0, "abc 123 x9y")], "doc_id long, text string")
    r = text.token_stats(df).collect()[0]
    assert r["n_ws_tokens"] == 3
    assert r["n_alpha_tokens"] == 3  # abc, x, y
    assert r["n_num_tokens"] == 2   # 123, 9
    assert r["n_bytes"] == 11


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(0, "b a c"), (1, "c b a a"), (2, "x y z")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(df).collect()}
    assert out[0] == out[1]
    assert out[0] != out[2]


def test_multimodal_decode_metadata(docs):
    out = {r["doc_id"]: r for r in multimodal.document_media_metadata(docs).collect()}
    r = out[4]  # "tiny" → 4 bytes
    assert r["n_bytes"] == 4 and r["width"] == 4 and r["height"] == 0 and r["format"] == "fake"


def test_multimodal_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\xff\xd8")


def test_connected_components_chain_and_singleton(spark):
    from nsdb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "doc_id long")
    out = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs, nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_winnowing_duplicate_docs_share_digest(spark):
    from nsdb_spark.operators.text import winnow_fingerprints

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different content with other words here")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in winnow_fingerprints(docs).collect()}
    assert rows[1]["fp_digest"] == rows[2]["fp_digest"]
    assert rows[1]["fp_digest"] != rows[3]["fp_digest"]
    assert rows[1]["n_fingerprints"] > 0


def test_resize_and_frame_sample_shapes(spark):
    from nsdb_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(1, "x" * 2000), (2, "short")], "doc_id long, text string"
    )
    b = multimodal.attach_binary(docs)
    rz = {r["doc_id"]: r for r in multimodal.resize_media(b, 32, 32).collect()}
    assert rz[1]["out_bytes"] == 1024 and rz[2]["out_bytes"] == 5
    fr = multimodal.sample_frames(b, frame_bytes=64, every=4).collect()
    by_doc = {}
    for r in fr:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    # 2000 bytes → 32 frames → sampled 0,4,...,28; 5 bytes → 1 frame → [0]
    assert sorted(by_doc[1]) == list(range(0, 32, 4))
    assert by_doc[2] == [0]


def test_rhp_topk_recall_vs_bruteforce(emb):
    from nsdb_spark.operators.similarity import (
        cosine_topk,
        deterministic_hyperplanes,
        rhp_topk,
    )

    row = emb.filter("vec_id = 0").select("embedding").first()
    qv = [float(x) for x in row[0]]
    planes = deterministic_hyperplanes(8, len(qv))
    exact = [r["vec_id"] for r in cosine_topk(emb, qv, k=2).collect()]
    approx = [r["vec_id"] for r in rhp_topk(emb, qv, planes, k=2, multiprobe=1).collect()]
    # the true near pair (0 at cosine 1.0, 1 at 0.994) shares or neighbours
    # the query's bucket; distant/opposite vectors rightly need not appear
    assert exact == [0, 1]
    assert approx == [0, 1]


def test_salted_groupby_matches_plain(spark):
    from pyspark.sql import functions as F

    from nsdb_spark.operators.skew import salted_groupby_agg

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(100)] + [("b", 5.0), ("b", 7.0)],
        "k string, v double",
    )
    plain = {
        tuple(r)
        for r in df.groupBy("k")
        .agg(
            F.count("v").alias("c"), F.sum("v").alias("s"),
            F.min("v").alias("mn"), F.max("v").alias("mx"),
            F.avg("v").alias("av"),
        )
        .collect()
    }
    salted = {
        tuple(r)
        for r in salted_groupby_agg(
            df, ["k"],
            [("v", "count", "c"), ("v", "sum", "s"), ("v", "min", "mn"),
             ("v", "max", "mx"), ("v", "avg", "av")],
            salt_buckets=8,
        ).collect()
    }
    assert salted == plain


def test_quantize_int8_roundtrip_properties(spark):
    from nsdb_spark.operators.similarity import quantize_int8

    emb2 = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [2.0, 0.0, -4.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_int8(emb2).collect()}
    assert rows[1]["scale"] == 1.0 and rows[1]["n_dims"] == 3
    assert rows[2]["scale"] == 4.0
    # digests deterministic
    assert rows[1]["q_digest"] != rows[2]["q_digest"]


# --------------------------------------------------------------- temporal_join
def test_asof_join_basic(spark):
    from nsdb_spark.operators import temporal_join

    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 250, "b"), (2, 100, "c"), (3, 100, "d")],
        "k long, ts long, ev string",
    )
    right = spark.createDataFrame(
        [(1, 100, 10.0), (1, 200, 20.0), (2, 150, 30.0)],
        "k long, ts long, px double",
    )
    out = temporal_join.asof_join(
        left, right, on=("k", "k"), ts=("ts", "ts"), payload=["px"]
    )
    got = {(r["k"], r["ts"]): r["asof_px"] for r in out.collect()}
    assert got[(1, 100)] == 10.0   # simultaneous right row matches (at-or-before)
    assert got[(1, 250)] == 20.0   # latest prior, not first
    assert got[(2, 100)] is None   # right row is in the future
    assert got[(3, 100)] is None   # key absent on the right
    assert out.count() == left.count()  # no row amplification


def test_asof_join_tie_break_deterministic(spark):
    from nsdb_spark.operators import temporal_join

    left = spark.createDataFrame([(1, 500)], "k long, ts long")
    # two right rows at the same (key, ts): max id must win, and its payload
    right = spark.createDataFrame(
        [(1, 100, 7, 70.0), (1, 100, 9, 90.0)], "k long, ts long, id int, px double"
    )
    out = temporal_join.asof_join(
        left, right, on=("k", "k"), ts=("ts", "ts"),
        payload=["id", "px"], tie_break="id",
    ).collect()
    assert out[0]["asof_id"] == 9 and out[0]["asof_px"] == 90.0


def test_nearest_join_directions_tolerance_ties(spark):
    from nsdb_spark.operators import temporal_join

    left = spark.createDataFrame(
        [(1, 100), (1, 210), (1, 155), (2, 100), (3, 100)],
        "k long, ts long",
    )
    # key 1: rights at 90 and 220; key 2: right far beyond tolerance
    right = spark.createDataFrame(
        [(1, 90, 1, 9.0), (1, 220, 2, 22.0), (2, 1000, 3, 1.0)],
        "k long, ts long, id int, px double",
    )
    out = temporal_join.nearest_join(
        left, right, on=("k", "k"), ts=("ts", "ts"),
        payload=["id", "px"], tie_break="id", tolerance=100,
    )
    got = {(r["k"], r["ts"]): r for r in out.collect()}
    assert len(got) == 5  # no row amplification
    r = got[(1, 100)]     # backward 10 vs forward 120>tol → backward
    assert r["near_id"] == 1 and r["near_dist"] == 10
    r = got[(1, 210)]     # backward 120 vs forward 10 → forward
    assert r["near_id"] == 2 and r["near_px"] == 22.0 and r["near_dist"] == 10
    r = got[(1, 155)]     # exact tie 65/65 → backward wins
    assert r["near_id"] == 1 and r["near_dist"] == 65
    assert got[(2, 100)]["near_id"] is None   # 900 > tolerance
    assert got[(3, 100)]["near_id"] is None   # key absent on the right
    assert got[(2, 100)]["near_dist"] is None


def test_nearest_join_zero_distance_and_tie_break(spark):
    from nsdb_spark.operators import temporal_join

    left = spark.createDataFrame([(1, 100)], "k long, ts long")
    # two rights at exactly the left ts: tie_break max id must win in
    # BOTH directions (same deduped row), distance 0
    right = spark.createDataFrame(
        [(1, 100, 7, 70.0), (1, 100, 9, 90.0)],
        "k long, ts long, id int, px double",
    )
    r = temporal_join.nearest_join(
        left, right, on=("k", "k"), ts=("ts", "ts"),
        payload=["id", "px"], tie_break="id",
    ).collect()[0]
    assert r["near_id"] == 9 and r["near_px"] == 90.0 and r["near_dist"] == 0


def test_sessionize_gap_boundaries(spark):
    from nsdb_spark.operators import temporal_join

    rows = [
        (1, 0, 0, 1.0), (1, 1000, 1, 2.0),    # session 0 (gap 1000 == gap_ms: same)
        (1, 3001, 2, 3.0),                    # gap 2001 > 2000 → session 1
        (2, 0, 3, 4.0),                       # other key, own session 0
    ]
    df = spark.createDataFrame(rows, "user long, ts long, eid long, value double")
    out = temporal_join.sessionize(
        df, key="user", ts="ts", gap_ms=2000, order_tie="eid", value="value"
    )
    got = {(r["user"], r["session_id"]): r for r in out.collect()}
    assert len(got) == 3
    assert got[(1, 0)]["n_events"] == 2 and got[(1, 0)]["sum_value"] == 3.0
    assert got[(1, 1)]["session_start"] == 3001
    assert got[(2, 0)]["n_events"] == 1


def test_sessionize_exact_gap_is_same_session(spark):
    from nsdb_spark.operators import temporal_join

    df = spark.createDataFrame([(1, 0, 0), (1, 2000, 1)], "user long, ts long, eid long")
    out = temporal_join.sessionize(df, key="user", ts="ts", gap_ms=2000, order_tie="eid")
    assert out.count() == 1  # gap == gap_ms does NOT split


# ------------------------------------------------------------------ tfidf
def test_tfidf_topk_ranking(spark, docs):
    out = text.tfidf_topk(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) <= 2 for v in by_doc.values())
    # doc 3 shares no terms with others: its distinctive words (df=1) rank top
    top3 = sorted(by_doc[3], key=lambda r: r["rank"])
    assert all(r["df"] == 1 for r in top3)
    # ranks are 1..k and rank 1 has the max score
    assert top3[0]["rank"] == 1 and top3[0]["score"] >= top3[1]["score"]


# --------------------------------------------------------------- sampling
def test_hash_sample_deterministic_and_partition_invariant(spark):
    from nsdb_spark.operators import sampling

    df = spark.range(0, 10000).withColumnRenamed("id", "k")
    a = sorted(r["k"] for r in sampling.hash_sample(df, "k", 0.1).collect())
    b = sorted(
        r["k"] for r in sampling.hash_sample(df.repartition(13), "k", 0.1).collect()
    )
    assert a == b                       # layout-independent
    assert 800 < len(a) < 1200          # ~10%


def test_stratified_sample_nested_rates(spark):
    from nsdb_spark.operators import sampling

    df = spark.range(0, 5000).selectExpr("id AS k", "'x' AS s")
    small = {r["k"] for r in sampling.hash_stratified_sample(
        df, "k", "s", {"x": 0.05}, 0.0).collect()}
    big = {r["k"] for r in sampling.hash_stratified_sample(
        df, "k", "s", {"x": 0.2}, 0.0).collect()}
    assert small <= big                 # raising a rate only adds rows


# ------------------------------------------------------------ scale joins
def test_broadcast_join_plan_and_result(spark):
    from nsdb_spark.operators import joins

    fact = spark.createDataFrame(
        [(1, 10.0, 0.1), (1, 20.0, 0.0), (2, 30.0, 0.5)],
        "l_partkey long, l_extendedprice double, l_discount double",
    )
    dim = spark.createDataFrame(
        [(1, "A"), (2, "B")], "p_partkey long, p_type string"
    )
    out = joins.revenue_by_part_type(fact, dim)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # dim side must not shuffle the fact
    got = {r["p_type"]: (r["revenue"], r["n_items"]) for r in out.collect()}
    assert got["A"] == (29.0, 2) and got["B"] == (15.0, 1)


# ---------------------------------------------------------------- analytics


def test_bm25_exact_dup_docs_tie_on_doc_id(docs):
    from nsdb_spark.operators import ranking

    out = ranking.bm25_topk(docs, ["quick", "spark"], k=10).collect()
    by_id = {r["doc_id"]: r for r in out}
    # docs 0 and 2 are identical -> identical scores, rank tie broken by id
    assert by_id[0]["score"] == by_id[2]["score"]
    assert by_id[0]["rank"] < by_id[2]["rank"]
    # doc 3 is the only one containing 'spark' (rarer term, higher idf)
    assert 3 in by_id
    # doc 4 has neither term -> absent
    assert 4 not in by_id


def test_bm25_rarer_term_outscores_common(spark):
    from nsdb_spark.operators import ranking

    rows = [(i, "common filler words here") for i in range(8)]
    rows += [(8, "common rare"), (9, "common")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["score"] for r in ranking.bm25_topk(docs, ["rare", "common"], k=10).collect()}
    assert out[8] > out[9]


def test_pq_adc_recall_vs_exact(spark):
    """PQ/ADC top-10 must recover most of the exact L2 top-10 on the
    synthetic clustered embeddings (m=8 × ks=16 codebooks on 64-dim)."""
    from nsdb_spark.operators import pq, similarity

    emb = testdata.table(spark, "/root/testdata/sf0.001", "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    exact = {r["vec_id"] for r in similarity.cosine_topk(emb, qv, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in pq.pq_search(emb, qv, k=10, m=8, ks=16, iters=3, shortlist=100).collect()
    }
    assert len(approx) == 10
    assert len(exact & approx) >= 8  # re-ranked recall@10
    assert 0 in approx  # the query vector itself must be a near-neighbour
    # raw ADC (no re-rank) still surfaces the query vector itself
    adc = {r["vec_id"] for r in pq.pq_search(emb, qv, k=10, m=8, ks=16, iters=3, shortlist=None).collect()}
    assert 0 in adc


def test_pq_encode_deterministic_and_compact(spark):
    from nsdb_spark.operators import pq

    emb = testdata.table(spark, "/root/testdata/sf0.001", "embeddings").limit(100)
    cbs = pq.pq_train(emb, m=4, ks=8, iters=2)
    assert len(cbs) == 4 and all(len(cb) == 8 for cb in cbs)
    assert all(len(c) == 16 for cb in cbs for c in cb)  # 64/4 dims
    a = {r["vec_id"]: list(r["codes"]) for r in pq.pq_encode(emb, cbs).collect()}
    b = {r["vec_id"]: list(r["codes"]) for r in pq.pq_encode(emb, cbs).collect()}
    assert a == b  # encoding is deterministic
    assert all(len(v) == 4 and all(0 <= c < 8 for c in v) for v in a.values())


def test_pq_exact_when_codebook_holds_the_vectors(spark):
    """If every stored vector IS a codebook centroid in every subspace,
    ADC distance equals the true squared L2 — the approximation error is
    exactly the quantization error."""
    import numpy as np
    from nsdb_spark.operators import pq

    rng = np.random.RandomState(3)
    vecs = rng.randn(4, 8).round(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    # hand-built codebooks: subspace j's centroids are the 4 sub-vectors
    cbs = [[[float(x) for x in vecs[i, j * 4 : (j + 1) * 4]] for i in range(4)] for j in range(2)]
    enc = pq.pq_encode(emb, cbs)
    q = [float(x) for x in vecs[2]]
    out = {r["vec_id"]: r["adist"] for r in pq.pq_topk(enc, cbs, q, k=4).collect()}
    true = {i: round(float(((vecs[i] - vecs[2]) ** 2).sum()), 6) for i in range(4)}
    assert out == true
    assert out[2] == 0.0


def test_heavy_hitters_matches_exact_groupby(spark):
    """Skewed data with more distinct values than sketch capacity: the
    MG-pruned path must still return the exact top-k."""
    from nsdb_spark.operators import skew

    rows = [("hot%d" % (i % 3),) for i in range(3000)]          # 3 heavy keys
    rows += [("cold%d" % i,) for i in range(2000)]              # 2000 singletons
    df = spark.createDataFrame(rows, "token string").repartition(8)
    got = [(r["token"], r["n"]) for r in skew.heavy_hitters(df, "token", k=5, capacity=16).collect()]
    exact = [
        (r["token"], r["n"])
        for r in df.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token")).limit(5).collect()
    ]
    assert got == exact
    assert got[0][1] == 1000  # each hot key appears 1000x


def test_heavy_hitters_flat_data_fallback_still_exact(spark):
    from nsdb_spark.operators import skew

    # perfectly flat: every value appears once; certificate fails -> fallback
    df = spark.createDataFrame([("v%04d" % i,) for i in range(500)], "token string")
    got = [(r["token"], r["n"], r["rank"]) for r in skew.heavy_hitters(df, "token", k=3, capacity=8).collect()]
    assert got == [("v0000", 1, 1), ("v0001", 1, 2), ("v0002", 1, 3)]


def test_counter_rate_semantics(spark):
    from nsdb_spark.operators import tsa

    df = spark.createDataFrame(
        [(1, 1000, 1, 10.0), (1, 3000, 2, 15.0), (1, 3000, 3, 14.0), (2, 500, 4, 1.0)],
        "user_id long, timestamp long, event_id long, value double",
    )
    got = {r["event_id"]: (r["delta"], r["rate_per_s"]) for r in tsa.counter_rate(df).collect()}
    assert 1 not in got and 4 not in got       # first sample per key excluded
    assert got[2] == (5.0, 2.5)                # 5 over 2 s
    assert got[3] == (-1.0, None)              # same-timestamp pair: rate NULL


def test_locf_fill_gaps(spark):
    from nsdb_spark.operators import tsa

    df = spark.createDataFrame(
        # user 1: buckets 0 and 3 present, 1-2 are gaps to fill with 5.0
        [(1, 500, 1, 5.0), (1, 100, 2, 3.0), (1, 3500, 3, 9.0)],
        "user_id long, timestamp long, event_id long, value double",
    )
    rows = {
        r["bucket_start"]: (r["value_filled"], r["is_gap"])
        for r in tsa.locf_fill(df, 1000).collect()
    }
    # bucket 0 keeps its LAST sample (ts 500), gaps carry it forward
    assert rows[0] == (5.0, False)
    assert rows[1000] == (5.0, True)
    assert rows[2000] == (5.0, True)
    assert rows[3000] == (9.0, False)


def test_decimate_minmax_extremes(spark):
    from nsdb_spark.operators import tsa

    df = spark.createDataFrame(
        [(1, 100, 1, 5.0), (1, 200, 2, 1.0), (1, 300, 3, 9.0), (1, 400, 4, 1.0)],
        "user_id long, timestamp long, event_id long, value double",
    )
    r = tsa.decimate_minmax(df, 1000).collect()[0]
    assert (r["min_value"], r["min_ts"]) == (1.0, 200)  # tie on value=1.0 -> earlier ts
    assert (r["max_value"], r["max_ts"]) == (9.0, 300)


def test_repetition_scores(spark):
    from nsdb_spark.operators import text

    docs = spark.createDataFrame(
        [
            (0, "a b a b a b"),      # 3 distinct of 6 words... 2 distinct; bigrams: "a b","b a" over 5
            (1, "x y z"),            # all unique
            (2, "solo"),             # single word: no bigrams
            (3, "w w w w"),          # maximal repetition
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.repetition_scores(docs).collect()}
    assert got[0]["n_tokens"] == 6
    assert got[0]["uniq_word_frac"] == round(2 / 6, 6)
    assert got[0]["dup_bigram_frac"] == round(1 - 2 / 5, 6)
    assert got[1]["uniq_word_frac"] == 1.0 and got[1]["dup_bigram_frac"] == 0.0
    assert got[2]["n_tokens"] == 1 and got[2]["dup_bigram_frac"] == 0.0
    assert got[3]["uniq_word_frac"] == 0.25
    assert got[3]["dup_bigram_frac"] == round(1 - 1 / 3, 6)


def test_bm25_and_requires_all_terms(spark):
    from nsdb_spark.operators import ranking

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "alpha beta"),          # missing gamma -> excluded
            (2, "alpha alpha beta gamma gamma"),
            (3, "delta"),
        ],
        "doc_id long, text string",
    )
    out = ranking.bm25_topk_and(docs, ["alpha", "beta", "gamma"], k=10).collect()
    ids = {r["doc_id"] for r in out}
    assert ids == {0, 2}
    # AND result = OR result restricted to full-match docs (same scores)
    or_scores = {
        r["doc_id"]: r["score"]
        for r in ranking.bm25_topk(docs, ["alpha", "beta", "gamma"], k=10).collect()
    }
    for r in out:
        assert r["score"] == or_scores[r["doc_id"]]


def test_bm25_phrase_token_contiguous_only(spark):
    from nsdb_spark.operators import ranking

    docs = spark.createDataFrame(
        [
            (0, "full table scan today"),       # contains phrase
            (1, "table x scan"),                # both terms, not contiguous
            (2, "scan table"),                  # reversed order
            (3, "a tabletable scanscan b"),     # substring but not token-aligned
            (4, "table scan"),                  # phrase only
        ],
        "doc_id long, text string",
    )
    out = ranking.bm25_topk_phrase(docs, "table scan", k=10).collect()
    assert {r["doc_id"] for r in out} == {0, 4}


def test_topk_per_group(spark):
    from nsdb_spark.operators import analytics

    df = spark.createDataFrame(
        [(1, 10, 5.0), (1, 11, 9.0), (1, 12, 9.0), (2, 20, 1.0)],
        "g long, id long, v double",
    )
    out = analytics.topk_per_group(df, "g", "v", k=2, tie="id").collect()
    got = {(r["g"], r["id"]): r["rn"] for r in out}
    # ties on v=9.0 resolve by id asc: 11 before 12; 5.0 is cut by k=2
    assert got == {(1, 11): 1, (1, 12): 2, (2, 20): 1}


def test_moving_aggregate_frames(spark):
    from nsdb_spark.operators import analytics

    df = spark.createDataFrame(
        [(1, 100, 1, 2.0), (1, 200, 2, 4.0), (1, 300, 3, 6.0), (1, 400, 4, 8.0), (1, 500, 5, 10.0)],
        "k long, ts long, id long, v double",
    )
    out = {r["id"]: r for r in analytics.moving_aggregate(df, "k", "ts", "v", "id", preceding=3).collect()}
    assert out[1]["mov_avg"] == 2.0 and out[1]["cum_sum"] == 2.0
    assert out[4]["mov_avg"] == 5.0  # (2+4+6+8)/4
    assert out[5]["mov_avg"] == 7.0  # (4+6+8+10)/4 - frame slid past row 1
    assert out[5]["cum_sum"] == 30.0


def test_funnel_strict_order(spark):
    from nsdb_spark.operators import analytics

    rows = [
        (1, 100, "a"), (1, 200, "b"), (1, 300, "c"),   # full funnel
        (2, 100, "b"), (2, 200, "a"), (2, 300, "c"),   # b before a: still full (b at 300? no - c matched after a)
        (3, 100, "a"),                                   # drops after a
        (4, 100, "b"), (4, 200, "c"),                    # never did a -> excluded
    ]
    df = spark.createDataFrame(rows, "user_id long, timestamp long, event_type string")
    out = {r["user_id"]: r for r in analytics.funnel(df, ["a", "b", "c"]).collect()}
    assert set(out) == {1, 2, 3}
    assert (out[1]["ts_a"], out[1]["ts_b"], out[1]["ts_c"]) == (100, 200, 300)
    # user 2: a at 200, no b AFTER 200 -> funnel stops (strict ordering)
    assert out[2]["ts_a"] == 200 and out[2]["ts_b"] is None and out[2]["ts_c"] is None
    assert out[3]["ts_b"] is None


def test_group_percentiles_exact(spark):
    from nsdb_spark.operators import analytics

    df = spark.createDataFrame([("g", float(v)) for v in range(1, 5)], "p string, v double")
    row = analytics.group_percentiles(df, "p", "v", ps=[0.5]).collect()[0]
    assert row["n"] == 4 and row["p5"] == 2.5  # linear interpolation

def test_histogram_bins_and_clamp(spark):
    from nsdb_spark.operators import analytics

    df = spark.createDataFrame([(0.0,), (24.9,), (25.0,), (499.9,), (500.0,), (501.0,)], "v double")
    out = {r["bin"]: r for r in analytics.histogram(df, "v", 0.0, 500.0, 20).collect()}
    assert out[0]["n"] == 2            # 0.0 and 24.9
    assert out[1]["n"] == 1            # 25.0 starts bin 1
    assert out[19]["n"] == 2           # 499.9 plus 500.0 clamped into last bin
    assert 501.0 not in [v for r in out.values() for v in [r["sum_value"]]]
    assert out[0]["lo_edge"] == 0.0 and out[0]["hi_edge"] == 25.0


def test_group_stats_perfect_correlation(spark):
    from nsdb_spark.operators import analytics

    df = spark.createDataFrame([("g", float(i), 2.0 * i) for i in range(1, 6)], "p string, x double, y double")
    row = analytics.group_stats(df, "p", "x", "y").collect()[0]
    assert row["corr_xy"] == 1.0
    assert row["stddev_y"] == 2 * row["stddev_x"]


def test_scrub_numbers_masks_digit_runs(spark):
    from nsdb_spark.operators import analytics

    df = spark.createDataFrame(
        [(1, "call 555 at 1234"), (2, "no digits"), (3, "")],
        "id long, t string",
    )
    out = {r["id"]: r for r in analytics.scrub_numbers(df, "id", "t").collect()}
    assert out[1]["n_masked"] == 2
    assert out[2]["n_masked"] == 0
    import hashlib

    assert out[1]["scrub_digest"] == hashlib.md5(b"call # at #").hexdigest()


# ---------------------------------------------------------- rollup / kmeans


def test_rollup_equals_direct_temporal(spark):
    """Rollup-path answers must match a hand-computed backward-aligned
    temporal aggregation, including the truncated oldest bucket and an
    empty bucket emitted as zero."""
    from nsdb_spark.operators import rollup

    shard = 1000
    # upper = 2000, lower = 0; coarse=400 -> 5 buckets hanging from 2000
    rows = [
        (150, 10.0),   # bucket (1600,2000]? no: k = floor((2000-150)/400) = 4 -> oldest (truncated)
        (1700, 5.0),   # k = 0
        (1750, 7.0),   # k = 0
        (900, 2.0),    # k = 2
    ]
    df = spark.createDataFrame(rows, "timestamp long, value double")
    out = rollup.temporal_agg_via_rollup(
        spark, df, fine_ms=200, coarse_ms=400, shard_ms=shard,
        agg="sum", alias="sum_value",
    )
    got = {r["upper_bound"]: (r["lower_bound"], r["sum_value"]) for r in out.collect()}
    assert got == {
        2000: (1600, 12.0),
        1600: (1200, 0.0),
        1200: (800, 2.0),
        800: (400, 0.0),
        400: (0, 10.0),   # truncated: lower clamped to 0
    }


def test_rollup_count_type_and_avg(spark):
    from nsdb_spark.operators import rollup

    df = spark.createDataFrame(
        [(100, 4.0), (150, 8.0)], "timestamp long, value double"
    )
    cnt = rollup.temporal_agg_via_rollup(
        spark, df, 100, 200, 1000, "count", "count_value"
    )
    assert dict(cnt.dtypes)["count_value"] == "bigint"
    avg = {
        r["upper_bound"]: r["avg_value"]
        for r in rollup.temporal_agg_via_rollup(
            spark, df, 100, 200, 1000, "avg", "avg_value"
        ).collect()
    }
    assert avg[200] == 6.0  # (4+8)/2 in the oldest bucket (0,200]
    assert avg[1000] == 0.0  # empty bucket emitted as zero


@pytest.mark.parametrize(
    "family", ["temporal", "percentile", "lc", "hll", "topk", "skew"]
)
def test_rollup_rejects_non_multiple_interval(spark, family):
    from nsdb_spark.operators import rollup

    df = spark.createDataFrame([(100, 1.0)], "timestamp long, value double")
    # the multiple-of-grain check is the shared serve prologue: it runs
    # before any family reads its partials, so one rollup serves all six
    r, b = rollup.build_temporal_rollup(df, 300, 1000)
    serve = {
        "temporal": lambda: rollup.temporal_from_rollup(spark, r, b, 300, 500, "sum", "s"),
        "percentile": lambda: rollup.temporal_percentile_from_quantile_rollup(
            spark, r, 0.5, b, 300, 500, (0.0, 1.0)
        ),
        "lc": lambda: rollup.temporal_count_distinct_from_rollup(spark, r, b, 300, 500),
        "hll": lambda: rollup.temporal_hll_from_rollup(spark, r, b, 300, 500),
        "topk": lambda: rollup.temporal_topk_from_rollup(spark, r, b, 300, 500),
        "skew": lambda: rollup.temporal_skew_from_moment_rollup(spark, r, b, 300, 500),
    }[family]
    with pytest.raises(ValueError, match="multiple of the rollup grain"):
        serve()


def test_kmeans_separates_blobs(spark):
    from nsdb_spark.operators import clustering

    # two tight blobs far apart; init takes vec 0 (blob A) and vec 1 (blob B)
    rows = [(0, [0.0, 0.1]), (1, [10.0, 9.9])]
    rows += [(i, [0.0 + i * 0.001, 0.0]) for i in range(2, 12)]
    rows += [(i, [10.0, 10.0 + i * 0.001]) for i in range(12, 22)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cells = {
        r["cell"]: r["n_vecs"]
        for r in clustering.kmeans_summary(emb, k=2, iters=3).collect()
    }
    assert sorted(cells.values()) == [11, 11]
    # inertia of tight blobs is tiny
    for r in clustering.kmeans_summary(emb, k=2, iters=3).collect():
        assert r["rms_dist"] < 1.0


def test_kmeans_trained_ivf_recall(spark):
    from nsdb_spark.operators import clustering, similarity

    rows = [(i, [float(i % 4) + 0.01 * i + 0.5, float((i * 7) % 5) + 0.5]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [2.0, 3.0]
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, q, k=5).collect()]
    cents = clustering.ivf_centroids(emb, k=4, iters=3)
    assert all(abs(sum(x * x for x in c) - 1.0) < 1e-9 for c in cents)
    approx = [
        r["vec_id"]
        for r in similarity.ivf_topk(emb, q, cents, k=5, nprobe=4).collect()
    ]
    assert approx == exact  # full probe == exact


def test_merge_rollups_equals_full_rollup(spark):
    """Incremental maintenance invariant: merge(rollup(A), rollup(B)) ==
    rollup(A ∪ B) when all share the pinned bucket axis."""
    from nsdb_spark.operators import rollup

    a = spark.createDataFrame([(100, 1.0), (850, 2.0)], "timestamp long, value double")
    b = spark.createDataFrame([(120, 4.0), (990, 8.0)], "timestamp long, value double")
    bounds = (0, 1000)
    ra, _ = rollup.build_temporal_rollup(a, 100, 1000, bounds=bounds)
    rb, _ = rollup.build_temporal_rollup(b, 100, 1000, bounds=bounds)
    rfull, _ = rollup.build_temporal_rollup(a.unionByName(b), 100, 1000, bounds=bounds)
    merged = rollup.merge_rollups(ra, rb)
    key = lambda df: {r["k"]: (r["count_value"], r["sum_value"], r["max_value"])
                      for r in df.collect()}
    assert key(merged) == key(rfull)


def test_merge_quantile_rollups_equals_full_sketch(spark):
    """t-digest-style invariant, exact here by construction:
    merge(sketch(A), sketch(B)) == sketch(A ∪ B) on a pinned grid."""
    import random

    from nsdb_spark.operators import rollup

    rnd = random.Random(7)
    rows = [(i * 10, rnd.uniform(-5.0, 120.0)) for i in range(400)]
    a = spark.createDataFrame(rows[::2], "timestamp long, value double")
    b = spark.createDataFrame(rows[1::2], "timestamp long, value double")
    bounds, vrange = (0, 4000), (-5.0, 120.0)
    ra, _, _ = rollup.build_quantile_rollup(
        a, 100, 4000, nbins=64, bounds=bounds, value_range=vrange
    )
    rb, _, _ = rollup.build_quantile_rollup(
        b, 100, 4000, nbins=64, bounds=bounds, value_range=vrange
    )
    rfull, _, _ = rollup.build_quantile_rollup(
        a.unionByName(b), 100, 4000, nbins=64, bounds=bounds, value_range=vrange
    )
    merged = rollup.merge_quantile_rollups(ra, rb)
    key = lambda df: {(r["k"], r["bin"]): r["cnt"] for r in df.collect()}
    assert key(merged) == key(rfull)

    # percentiles served from the merged sketch are within one bin width
    # of the exact order statistics
    qs = [0.25, 0.5, 0.9, 0.99]
    got = {
        r["q"]: r["pvalue"]
        for r in rollup.percentiles_from_quantile_rollup(
            spark, merged, qs, vrange, nbins=64
        ).collect()
    }
    values = sorted(v for _, v in rows)
    w = (120.0 - -5.0) / 64
    for q in qs:
        exact = values[min(int(q * len(values)), len(values) - 1)]
        assert abs(got[q] - exact) <= w + 1e-9


def test_group_quantile_rollup_merges_and_bounds_error(spark):
    from nsdb_spark.operators import rollup

    import random

    rnd = random.Random(3)
    rows = [(i, "g" + str(i % 3), rnd.uniform(0.0, 50.0)) for i in range(300)]
    df = spark.createDataFrame(rows, "timestamp long, event_type string, value double")
    vrange = (0.0, 50.0)
    ra, _ = rollup.build_group_quantile_rollup(
        df.filter("timestamp % 2 = 0"), "event_type", nbins=32, value_range=vrange
    )
    rb, _ = rollup.build_group_quantile_rollup(
        df.filter("timestamp % 2 = 1"), "event_type", nbins=32, value_range=vrange
    )
    rfull, _ = rollup.build_group_quantile_rollup(
        df, "event_type", nbins=32, value_range=vrange
    )
    merged = (
        ra.unionByName(rb).groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    key = lambda d: {(r["event_type"], r["bin"]): r["cnt"] for r in d.collect()}
    assert key(merged) == key(rfull)
    got = {
        r["event_type"]: r["pvalue"]
        for r in rollup.group_percentiles_from_quantile_rollup(
            merged, "event_type", 0.5, vrange, nbins=32
        ).collect()
    }
    import math

    w = 50.0 / 32
    for g in ("g0", "g1", "g2"):
        vals = sorted(v for _, gg, v in rows if gg == g)
        exact = vals[max(0, math.ceil(0.5 * len(vals)) - 1)]
        assert abs(got[g] - exact) <= w + 1e-9


def test_pca_fit_matches_numpy_and_projects(spark):
    """Distributed Gram-partial PCA equals numpy PCA on the collected
    data: same covariance eigenvalues, orthonormal components in
    descending variance order, projection = centered dot products."""
    import numpy as np

    from nsdb_spark.operators import clustering

    rng = np.random.default_rng(5)
    # anisotropic data: variance concentrated in a few directions
    base = rng.normal(size=(300, 4)) @ np.diag([10.0, 3.0, 1.0, 0.1])
    rows = [(i, [float(x) for x in base[i]]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # float32 storage: compare against numpy on the SAME float32 values
    X = np.stack([np.asarray(v, dtype=np.float32).astype(np.float64) for _, v in rows])
    mean, comps, var = clustering.pca_fit(emb, k=4)
    assert np.allclose(mean, X.mean(axis=0), atol=1e-9)
    cov = np.cov(X, rowvar=False)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1]
    assert np.allclose(var, evals, rtol=1e-8)
    C = np.asarray(comps)
    assert np.allclose(C @ C.T, np.eye(4), atol=1e-9)  # orthonormal
    assert var == sorted(var, reverse=True)
    proj = {r["vec_id"]: r["proj"] for r in
            clustering.pca_project(emb, mean, comps).collect()}
    expect = (X - X.mean(axis=0)) @ C.T
    for i in range(0, 300, 50):
        assert np.allclose(proj[i], np.round(expect[i], 6), atol=2e-6)


def test_pca_invariants_all_hold(spark):
    """pca_invariants: trace_total equals the summed per-dim sample
    variance (trace invariance) and every boolean invariant holds on
    well-conditioned data."""
    import numpy as np

    from nsdb_spark.operators import clustering

    rng = np.random.default_rng(11)
    base = rng.normal(size=(200, 6)) @ np.diag([8.0, 4.0, 2.0, 1.0, 0.5, 0.2])
    rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    X = np.stack([np.asarray(v, dtype=np.float32).astype(np.float64) for _, v in rows])
    got = clustering.pca_invariants(emb, k=3).collect()[0]
    assert got["n_rows"] == 200 and got["dim"] == 6 and got["k"] == 3
    expect_trace = float(np.var(X, axis=0, ddof=1).sum())
    assert abs(got["trace_total"] - expect_trace) < 1e-5
    assert got["orthon_ok"] and got["var_order_ok"] and got["proj_var_ok"]


def test_bpe_roundtrip_lossless_incl_oov_and_multispace(spark):
    """bpe_roundtrip: decode(encode(x)) == whitespace-normalized x for
    every doc, including OOV words (char fallback) and runs of spaces;
    n_words/n_chars match the normalized text."""
    from nsdb_spark.operators import bpe

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "totally  unseen   zxqwv words"),  # OOV + multi-space
            (3, "a"),
            (4, "repeat repeat repeat repeat"),
        ],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(1, "the cat sat on the mat the cat")], "doc_id long, text string"
    )
    _merges, vocab = bpe.bpe_train(train, num_merges=10)
    got = {r["doc_id"]: r for r in bpe.bpe_roundtrip(docs, vocab).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert all(r["roundtrip_ok"] for r in got.values())
    assert got[2]["n_words"] == 4  # empty tokens from multi-space dropped
    assert got[2]["n_chars"] == len("totally unseen zxqwv words")
    assert got[3]["n_words"] == 1 and got[3]["n_chars"] == 1


def test_window_agg_join_matches_bruteforce_and_has_no_join(spark):
    """Attribution-window counts/sums equal the brute-force range join on
    small data, while the physical plan contains NO join operator at all
    (prefix sums + union-tag as-of probes — the no-amplification path)."""
    import random

    from nsdb_spark.operators import temporal_join

    rnd = random.Random(11)
    orders = [(i, i % 5, rnd.randrange(0, 900)) for i in range(40)]
    events = [(j, j % 5, rnd.randrange(0, 1000), round(rnd.uniform(0, 10), 3))
              for j in range(400)]
    lo = spark.createDataFrame(orders, "o_id long, key long, ots long")
    ro = spark.createDataFrame(events, "e_id long, key long, ts long, value double")
    out = temporal_join.window_agg_join(
        lo, ro, on=("key", "key"), ts=("ots", "ts"), window_ms=100,
        value_col="value", right_id="e_id",
    )
    got = {r["o_id"]: (r["n_right"], round(r["sum_value"], 6)) for r in out.collect()}
    for (oid, k, ots) in orders:
        hits = [v for (_, ek, ts, v) in events if ek == k and ots <= ts < ots + 100]
        assert got[oid][0] == len(hits)
        assert abs(got[oid][1] - sum(hits)) < 1e-6
    plan = out._jdf.queryExecution().executedPlan().toString()
    for join_node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                      "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join_node not in plan

    # hot-key salting is RESULT-IDENTICAL (each salt bucket sees the
    # key's complete right stream)
    salted = temporal_join.window_agg_join(
        lo, ro, on=("key", "key"), ts=("ots", "ts"), window_ms=100,
        value_col="value", right_id="e_id", salt=4,
    )
    got_s = {r["o_id"]: (r["n_right"], round(r["sum_value"], 6))
             for r in salted.collect()}
    assert got_s == got


def test_distinct_rollup_estimates_and_merges(spark):
    """Linear-counting rollup: union-merge is exact (set semantics),
    estimates land within LC's error envelope, saturated bitmaps yield
    NULL, empty buckets 0."""
    from nsdb_spark.operators import rollup

    # 900 distinct users in bucket kc=0, 30 in kc=1 (timestamps pick the
    # backward-aligned buckets from (0, 2000] with coarse=1000)
    rows = [(1500, i) for i in range(900)] + [(500, 10_000 + i) for i in range(30)]
    df = spark.createDataFrame(rows, "timestamp long, user_id long")
    bounds = (0, 2000)
    ra, _ = rollup.build_distinct_rollup(
        df.filter("user_id % 2 = 0"), "user_id", 100, 1000,
        m_buckets=4096, bounds=bounds,
    )
    rb, _ = rollup.build_distinct_rollup(
        df.filter("user_id % 2 = 1"), "user_id", 100, 1000,
        m_buckets=4096, bounds=bounds,
    )
    rfull, _ = rollup.build_distinct_rollup(
        df, "user_id", 100, 1000, m_buckets=4096, bounds=bounds
    )
    merged = rollup.merge_distinct_rollups(ra, rb)
    key = lambda d: {(r["k"], r["idx"]) for r in d.collect()}
    assert key(merged) == key(rfull)

    out = {
        r["timestamp"]: r["est_distinct"]
        for r in rollup.temporal_count_distinct_from_rollup(
            spark, merged, bounds, 100, 1000, m_buckets=4096
        ).collect()
    }
    assert abs(out[2000] - 900) / 900 < 0.1  # recent bucket holds ts 1500
    assert abs(out[1000] - 30) / 30 < 0.1
    # saturation: tiny bitmap fully hit -> NULL, not a made-up number
    rs, _ = rollup.build_distinct_rollup(
        df, "user_id", 100, 1000, m_buckets=16, bounds=bounds
    )
    sat = {
        r["timestamp"]: r["est_distinct"]
        for r in rollup.temporal_count_distinct_from_rollup(
            spark, rs, bounds, 100, 1000, m_buckets=16
        ).collect()
    }
    assert sat[2000] is None


def test_quantile_rollup_degenerate_constant_column(spark):
    from nsdb_spark.operators import rollup

    df = spark.createDataFrame([(i, 42.0) for i in range(10)], "timestamp long, value double")
    r, _, vr = rollup.build_quantile_rollup(df, 100, 1000, nbins=16)
    out = rollup.percentiles_from_quantile_rollup(spark, r, [0.5], vr, nbins=16).collect()
    assert out[0]["pvalue"] == pytest.approx(42.0, abs=1.0)


def test_quantile_rollup_excludes_null_values(spark):
    """NULL values must not enter the sketch: least()/greatest() skip
    NULL args, so an unfiltered NULL row lands in the TOP bin and
    skews every served percentile upward — while the raw percentile()
    path ignores NULLs (rollup == raw is the invariant)."""
    from nsdb_spark.operators import rollup

    rows = [(i, float(i)) for i in range(100)] + [(100 + i, None) for i in range(200)]
    df = spark.createDataFrame(rows, "timestamp long, value double")
    r, _, vr = rollup.build_quantile_rollup(df, 100, 1000, nbins=64)
    assert r.agg({"cnt": "sum"}).first()[0] == 100  # NULLs not counted
    out = rollup.percentiles_from_quantile_rollup(spark, r, [0.9], vr, nbins=64).collect()
    # 200 NULLs in the top bin would have dragged p90 to ~99
    assert out[0]["pvalue"] == pytest.approx(89.0, abs=2.0)
    gr, gvr = rollup.build_group_quantile_rollup(
        df.withColumn("g", (F.col("timestamp") < 100).cast("string")), "g", nbins=64
    )
    # NULL values excluded; the all-NULL group vanishes entirely
    assert {x["g"] for x in gr.select("g").distinct().collect()} == {"true"}


def test_cdc_chunks_cover_text_and_shift_invariance(spark):
    """Chunks tile the document exactly; inserting a prefix shifts only
    the first chunk's content — most chunk hashes survive (the
    content-defined property fixed-size blocks lack)."""
    from nsdb_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog " * 8
    docs = spark.createDataFrame(
        [(0, base), (1, "XYZQ " + base)], "doc_id long, text string"
    )
    ch = dedup.cdc_chunks(docs).collect()
    by_doc = {}
    for r in ch:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_idx"])
        assert rows[0]["start"] == 1
        total = sum(r["length"] for r in rows)
        text_len = len(base) + (5 if d == 1 else 0)
        assert total == text_len  # exact tiling, no gaps or overlaps
    h0 = {r["chunk_hash"] for r in by_doc[0]}
    h1 = {r["chunk_hash"] for r in by_doc[1]}
    assert len(h0 & h1) >= max(1, len(h0) - 2)  # only the head chunk differs


def test_cdc_shared_pairs_catch_block_reuse_below_jaccard(spark):
    """A long copied block inside otherwise-different documents is found
    by shared CDC chunks even though whole-doc jaccard misses it."""
    from nsdb_spark.operators import dedup

    # varied content so boundary hashes occur INSIDE the block (a short
    # phrase repeated verbatim adds no new 8-grams and can tile into one
    # boundary-free chunk)
    block = " ".join(f"tok{(i * 7) % 97}w{i}" for i in range(120))
    tail_a = " ".join(f"aq{i}z{(i * 11) % 89}" for i in range(150))
    head_b = " ".join(f"bm{i}y{(i * 13) % 83}" for i in range(150))
    a = block + " " + tail_a
    b = head_b + " " + block
    c = " ".join(f"cv{i}x{(i * 17) % 79}" for i in range(200))
    docs = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "doc_id long, text string"
    )
    pairs = {(r["doc_a"], r["doc_b"]): r for r in dedup.cdc_shared_pairs(docs).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)]["shared_bytes"] > len(block) // 2
    assert not any(2 in p for p in pairs)
    # jaccard at the near-dup threshold misses the same pair
    assert dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).count() == 0


def test_bm25_multi_matches_single_query(docs):
    """Batch scoring must agree with the single-query path per query."""
    from nsdb_spark.operators import ranking

    queries = {"q1": ["quick", "spark"], "q2": ["lazy"]}
    multi = ranking.bm25_topk_multi(docs, queries, k=10).collect()
    for qid, terms in queries.items():
        single = {
            (r["doc_id"], r["score"], r["rank"])
            for r in ranking.bm25_topk(docs, terms, k=10).collect()
        }
        got = {
            (r["doc_id"], r["score"], r["rank"])
            for r in multi
            if r["query_id"] == qid
        }
        assert got == single


def test_top_bigrams_counts(spark):
    from nsdb_spark.operators import text

    rows = [(0, "a b a b"), (1, "a b c"), (2, "x")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["bigram"]: r for r in text.top_bigrams(docs, k=10).collect()}
    assert out["a b"]["n_occurrences"] == 3 and out["a b"]["n_docs"] == 2
    assert out["b a"]["n_occurrences"] == 1
    assert out["b c"]["n_docs"] == 1
    assert "x" not in out  # single-word doc produces no bigrams
    assert out["a b"]["rank"] == 1


def test_train_val_test_split_disjoint_and_stable(spark):
    from nsdb_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(1000)], "id long")
    out = sampling.train_val_test_split(
        df, "id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    counts = {r["split"]: r["cnt"] for r in out.groupBy("split").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert sum(counts.values()) == 1000          # every row exactly one split
    assert counts["train"] > 700                  # ~proportional
    # stable under repartitioning
    a = {(r["id"], r["split"]) for r in out.collect()}
    b = {(r["id"], r["split"])
         for r in sampling.train_val_test_split(
             df.repartition(13), "id", {"train": 0.8, "val": 0.1, "test": 0.1}
         ).collect()}
    assert a == b


def test_split_single_bucket_degenerate(spark):
    from nsdb_spark.operators import sampling

    df = spark.createDataFrame([(1,), (2,)], "id long")
    out = sampling.train_val_test_split(df, "id", {"all": 1.0})
    assert {r["split"] for r in out.collect()} == {"all"}


def test_pagerank_matches_reference_power_iteration(spark):
    from nsdb_spark.operators import graph

    # A <-> B cycle, C dangling, D isolated
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c")], "src string, dst string"
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "node string")
    iters, d, n = 10, 0.85, 4
    # reference: dense power iteration with uniform dangling redistribution
    ranks = {v: 1.0 / n for v in "abcd"}
    out = {"a": ["b", "c"], "b": ["a"], "c": [], "d": []}
    for _ in range(iters):
        contribs = {v: 0.0 for v in "abcd"}
        for u, targets in out.items():
            for t in targets:
                contribs[t] += ranks[u] / len(targets)
        dangling = 1.0 - sum(contribs.values())
        ranks = {
            v: (1 - d) / n + d * (contribs[v] + dangling / n) for v in "abcd"
        }
    got = {r["node"]: r["rank"] for r in graph.pagerank(edges, nodes, iters=iters).collect()}
    for v in "abcd":
        assert abs(got[v] - ranks[v]) < 1e-6, (v, got[v], ranks[v])
    assert abs(sum(got.values()) - 1.0) < 1e-5  # mass conserved
    assert got["a"] > got["c"]  # two in-links beat one


def test_rollup_materialize_roundtrip(spark, tmp_path):
    """The 'written once' story: rollup persisted to parquet, read back,
    and the coarse query from the stored rollup equals the direct path."""
    from nsdb_spark.operators import rollup

    df = spark.createDataFrame(
        [(100, 1.0), (850, 2.0), (990, 4.0)], "timestamp long, value double"
    )
    r, bounds = rollup.build_temporal_rollup(df, 100, 1000)
    path = str(tmp_path / "rollup")
    r.write.parquet(path)
    stored = spark.read.parquet(path)
    direct = rollup.temporal_agg_via_rollup(spark, df, 100, 500, 1000, "sum", "s")
    from_stored = rollup.temporal_from_rollup(spark, stored, bounds, 100, 500, "sum", "s")
    key = lambda d: {r["upper_bound"]: r["s"] for r in d.collect()}
    assert key(from_stored) == key(direct)


def test_lm_logprob_self_perplexity(docs):
    import math

    from nsdb_spark.operators import text as text_ops

    lm = {r["doc_id"]: (r["n_tokens"], r["avg_logp"])
          for r in text_ops.lm_logprob(docs).collect()}
    # total tokens = 9+9+9+6+1 = 34; doc 4 is the single token "tiny"
    assert lm[4] == (1, round(math.log(1 / 34), 3))
    # exact dup docs 0 and 2 score identically; both beat the singleton doc
    assert lm[0] == lm[2]
    assert lm[0][1] > lm[4][1]


def test_pack_sequences_chunk_math(spark):
    from nsdb_spark.operators import packing

    rows = [(0, "a b c d"), (1, "a b c d e"), (2, "x y z"), (3, "p q r s t u v")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = [tuple(r) for r in
           packing.pack_sequences(docs, budget=10).orderBy("doc_id", "chunk_id").collect()]
    # starts 0,4,9,12; doc 2 straddles the chunk-0/1 boundary at token 10
    assert out == [(0, 0, 0, 4), (1, 0, 4, 5), (2, 0, 9, 1), (2, 1, 9, 2), (3, 1, 12, 7)]
    # every chunk except the last is exactly full
    sums = {}
    for _, cid, _, t in out:
        sums[cid] = sums.get(cid, 0) + t
    assert sums == {0: 10, 1: 9}


def test_pack_sequences_layout_invariant(spark):
    """Start offsets must not depend on the incoming partitioning."""
    from nsdb_spark.operators import packing

    rows = [(i, " ".join(["w"] * (1 + i % 7))) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = {(r["doc_id"], r["chunk_id"]): r["start"]
         for r in packing.pack_sequences(docs.coalesce(1), budget=8).collect()}
    b = {(r["doc_id"], r["chunk_id"]): r["start"]
         for r in packing.pack_sequences(docs.repartition(16), budget=8).collect()}
    assert a == b and len(a) > 0


def test_alternating_cc_equals_label_propagation(spark):
    from nsdb_spark.operators.dedup import (
        connected_components,
        connected_components_alternating,
    )

    # chain 0-1-2-...-19 (worst case for label propagation), a 4-clique
    # with shuffled ids, and singletons
    chain = [(i, i + 1) for i in range(20)]
    clique = [(30, 33), (33, 31), (31, 32), (32, 30), (30, 31)]
    pairs = spark.createDataFrame(chain + clique, "doc_a long, doc_b long")
    nodes = spark.createDataFrame(
        [(i,) for i in range(21)] + [(i,) for i in range(30, 34)] + [(99,)],
        "doc_id long",
    )
    lp = {r["doc_id"]: r["cluster_id"]
          for r in connected_components(pairs, nodes, max_iter=30).collect()}
    alt = {r["doc_id"]: r["cluster_id"]
           for r in connected_components_alternating(pairs, nodes).collect()}
    assert alt == lp
    assert alt[20] == 0 and alt[33] == 30 and alt[99] == 99


def test_alternating_cc_random_graph(spark):
    import random

    from nsdb_spark.operators.dedup import (
        connected_components,
        connected_components_alternating,
    )

    rng = random.Random(7)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    lp = {r["doc_id"]: r["cluster_id"]
          for r in connected_components(pairs, nodes, max_iter=50).collect()}
    alt = {r["doc_id"]: r["cluster_id"]
           for r in connected_components_alternating(pairs, nodes).collect()}
    assert alt == lp


def test_retention_cohorts(spark):
    from nsdb_spark.operators import analytics

    # bucket = 10ms; user 1 first in bucket 0, active in 0 and 2;
    # user 2 first in bucket 1, active in 1; user 3 first in 0, active 0,1
    rows = [(1, 5), (1, 25), (2, 15), (3, 1), (3, 12), (3, 19)]
    ev = spark.createDataFrame(rows, "user_id long, timestamp long")
    out = {
        (r["cohort_start"], r["offset"]): r["n_users"]
        for r in analytics.retention_cohorts(ev, bucket_ms=10).collect()
    }
    assert out == {(0, 0): 2, (0, 1): 1, (0, 2): 1, (10, 0): 1}


def test_equidepth_histogram_quartiles(spark):
    from nsdb_spark.operators import analytics

    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "value double")
    out = {r["bin"]: r for r in analytics.equidepth_histogram(df, "value", 4).collect()}
    assert sorted(out) == [0, 1, 2, 3]
    assert [out[b]["n"] for b in range(4)] == [25, 25, 25, 25]
    assert out[0]["min_value"] == 1.0 and out[3]["max_value"] == 100.0
    # ties land in the lower bin: constant column collapses to one bin
    const = spark.createDataFrame([(7.0,)] * 8, "value double")
    cout = analytics.equidepth_histogram(const, "value", 4).collect()
    assert len(cout) == 1 and cout[0]["bin"] == 0 and cout[0]["n"] == 8
    # NULL values are excluded, not silently counted into bin 0 (which
    # would break the equal-depth property: cuts already ignore NULLs)
    withnull = spark.createDataFrame(
        [(float(i),) for i in range(1, 101)] + [(None,)] * 50, "value double"
    )
    nout = {r["bin"]: r["n"] for r in
            analytics.equidepth_histogram(withnull, "value", 4).collect()}
    assert nout == {0: 25, 1: 25, 2: 25, 3: 25}
    none1 = analytics.equidepth_histogram(withnull, "value", 1).collect()[0]
    assert none1["n"] == 100  # nbins=1 branch filters NULLs too


def test_ema_last_recurrence(spark):
    from nsdb_spark.operators import tsa

    rows = [(1, 10, 100, 1.0), (1, 20, 101, 2.0), (1, 30, 102, 3.0), (2, 5, 103, 9.0)]
    df = spark.createDataFrame(rows, "user_id long, timestamp long, event_id long, value double")
    out = {r["user_id"]: r for r in tsa.ema_last(df, alpha=0.5).collect()}
    # user 1: y=1; y=0.5*2+0.5*1=1.5; y=0.5*3+0.5*1.5=2.25
    assert out[1]["ema"] == 2.25 and out[1]["n"] == 3 and out[1]["last_ts"] == 30
    assert out[2]["ema"] == 9.0 and out[2]["n"] == 1


def test_cosine_range_search(spark):
    out = similarity.cosine_range_search(
        spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [1.0, 1.0]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
            "vec_id long, embedding array<float>",
        ),
        query_vec=[1.0, 0.0],
        min_cosine=0.5,
    ).collect()
    got = {r["vec_id"]: r["cosine"] for r in out}
    assert got == {0: 1.0, 1: pytest.approx(0.707107)}


def test_containment_pairs_fragment(spark):
    # doc 1 is a strict fragment of doc 0: containment(1 in 0) = 1.0 but
    # jaccard is low; symmetric jaccard at 0.5 misses it entirely
    rows = [
        (0, "a b c d e f g h i j k l m n o p"),
        (1, "c d e f g"),
        (2, "x y z w v u"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_inner"], r["doc_outer"]): r["containment"]
        for r in dedup.containment_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert out == {(1, 0): 1.0}
    assert dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).count() == 0


def test_zorder_key_interleave(spark):
    from nsdb_spark.operators import layout

    df = spark.createDataFrame([(3, 5)], "x long, y long")
    # x=0b011, y=0b101 -> bit j of x at 2j, of y at 2j+1:
    # j0: x1->1, y1->2 ; j1: x1->4, y0 ; j2: x0, y1->32  => 1+2+4+32 = 39
    out = df.select(layout.zorder_key([F.col("x"), F.col("y")], bits=3)).collect()
    assert out[0]["zkey"] == 39


def test_cluster_by_zorder_locality(spark):
    from nsdb_spark.operators import layout

    # a 16x16 grid, arrival order scrambled; after z-order clustering into
    # 4 range partitions each partition covers a compact quadrant-ish block
    # => per-partition bounding boxes are much smaller than the full grid
    rows = [(i, (i * 37) % 16, (i * 53) % 16) for i in range(256)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    clustered = layout.cluster_by_zorder(
        df, [F.col("x"), F.col("y")], bits=4, num_files=4
    )
    assert clustered.count() == 256
    spans = (
        clustered.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .collect()
    )
    assert len(spans) == 4
    # unsorted data would give every partition the full 0..15 span on both
    # axes; z-order keeps the average bounding-box side well under that
    avg_side = sum((r["sx"] + r["sy"]) / 2 for r in spans) / len(spans)
    assert avg_side <= 12


def test_bm25_postings_equals_direct(spark):
    from nsdb_spark.operators import ranking

    rows = [
        (0, "join hash scan join merge"),
        (1, "scan filter row scan scan"),
        (2, "vector join table"),
        (3, "nothing relevant here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    direct = ranking.bm25_topk(docs, ["join", "scan"], k=3).collect()
    n_docs, avgdl = ranking.write_postings_table(docs, "t_postings", buckets=4)
    served = ranking.bm25_topk_postings(
        spark, "t_postings", n_docs, avgdl, ["join", "scan"], k=3
    ).collect()
    assert [r.asDict() for r in direct] == [r.asDict() for r in served]


def test_bm25_postings_null_text_counts_toward_n_docs(spark):
    """A NULL-text doc emits no postings rows but is still a corpus
    member: both paths must use the same N in IDF (the scan path counts
    all rows), or every served score silently shifts versus the direct
    path on corpora with missing text."""
    from nsdb_spark.operators import ranking

    rows = [
        (0, "join hash scan join merge"),
        (1, "scan filter row scan scan"),
        (2, "vector join table"),
        (3, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    direct = ranking.bm25_topk(docs, ["join", "scan"], k=3).collect()
    n_docs, avgdl = ranking.write_postings_table(docs, "t_postings_null", buckets=4)
    assert n_docs == 4  # NULL-text doc still counts toward N
    served = ranking.bm25_topk_postings(
        spark, "t_postings_null", n_docs, avgdl, ["join", "scan"], k=3
    ).collect()
    assert [r.asDict() for r in direct] == [r.asDict() for r in served]


def test_sample_per_group_exact_k_and_nested(spark):
    from nsdb_spark.operators import sampling

    rows = [(i, "a" if i % 3 else "b") for i in range(300)]
    df = spark.createDataFrame(rows, "event_id long, event_type string")
    s10 = sampling.sample_per_group(df, "event_type", "event_id", 10)
    got = s10.groupBy("event_type").count().collect()
    assert {r["event_type"]: r["count"] for r in got} == {"a": 10, "b": 10}
    # nested: the k=10 sample is a subset of the k=50 sample
    s50_ids = {r["event_id"] for r in
               sampling.sample_per_group(df, "event_type", "event_id", 50).collect()}
    assert {r["event_id"] for r in s10.collect()} <= s50_ids
    # stable under repartitioning
    ids_alt = {r["event_id"] for r in
               sampling.sample_per_group(df.repartition(13), "event_type", "event_id", 10).collect()}
    assert {r["event_id"] for r in s10.collect()} == ids_alt


def test_embedding_srp_pairs_recall_and_threshold(spark):
    import math
    # three clusters: 0/1 nearly parallel (cos ~0.999), 2 orthogonal-ish
    rows = [
        (0, [1.0, 0.01, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.01, 0.0]),
        (2, [0.0, 0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dedup.embedding_srp_pairs(emb, threshold=0.9, planes=32, bands=8)
    got = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in out.collect()}
    assert list(got) == [(0, 1)] and got[(0, 1)] > 0.99
    # matches the exact cross-join baseline on the same input
    exact = {(r["vec_a"], r["vec_b"]) for r in
             dedup.embedding_cosine_pairs(emb, threshold=0.9).collect()}
    assert set(got) == exact


def test_normalize_text(spark):
    from nsdb_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(0, "Hello,   WORLD!! 42"), (1, "clean text")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text_ops.normalize_text(docs).collect()}
    import hashlib
    assert out[0]["norm_digest"] == hashlib.md5(b"hello world 42").hexdigest()
    assert out[0]["norm_chars"] == 14
    assert out[1]["removed_chars"] == 0


def test_robust_stats_outlier_resistant(spark):
    from nsdb_spark.operators import analytics

    rows = [("a", float(v)) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]]
    df = spark.createDataFrame(rows, "g string, v double")
    r = analytics.robust_stats(df, "g", "v").collect()[0]
    # median/mad ignore the 1000 outlier; plain mean would be ~104.5
    assert r["median"] == 5.5 and r["mad"] == 2.5
    assert r["trimmed_mean"] < 10


def test_transition_counts(spark):
    from nsdb_spark.operators import analytics

    rows = [
        (1, 10, 1, "a"), (1, 20, 2, "b"), (1, 30, 3, "a"),
        (2, 10, 4, "a"), (2, 20, 5, "b"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, timestamp long, event_id long, event_type string")
    out = {(r["prev_type"], r["next_type"]): r["n"]
           for r in analytics.transition_counts(ev).collect()}
    assert out == {("a", "b"): 2, ("b", "a"): 1}


def test_ivfpq_recall_vs_exact(spark):
    from nsdb_spark.operators import pq as pq_ops
    from nsdb_spark.operators import clustering, similarity
    import random

    rng = random.Random(11)
    # 3 well-separated blobs in 8-dim
    centers = [[5.0 if d == c * 2 else 0.0 for d in range(8)] for c in range(3)]
    rows = []
    for i in range(240):
        c = centers[i % 3]
        rows.append((i, [x + rng.uniform(-0.5, 0.5) for x in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = rows[0][1]
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, query, k=10).collect()]
    cents = clustering.kmeans_fit(emb, k=3, iters=4)
    got = [
        r["vec_id"]
        for r in pq_ops.ivfpq_search(
            emb, query, cents, k=10, nprobe=2, m=4, ks=8, shortlist=50
        ).collect()
    ]
    # probing the 2 nearest of 3 cells with exact re-rank recovers the
    # exact top-10 on cleanly-clustered data
    assert got == exact


def test_hash_weighted_sample_tracks_weight(spark):
    from nsdb_spark.operators import sampling

    rows = [(i, 0.0 if i % 2 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "event_id long, weight double")
    kept = sampling.hash_weighted_sample(df, "event_id", "weight").collect()
    # weight 1.0 rows always kept, weight 0.0 never
    assert len(kept) == 500 and all(r["weight"] == 1.0 for r in kept)
    # nested under pointwise weight increase: w=0.3 sample ⊆ w=0.6 sample
    flat = spark.createDataFrame([(i,) for i in range(1000)], "event_id long")
    s3 = {r["event_id"] for r in sampling.hash_weighted_sample(
        flat.withColumn("w", F.lit(0.3)), "event_id", "w").collect()}
    s6 = {r["event_id"] for r in sampling.hash_weighted_sample(
        flat.withColumn("w", F.lit(0.6)), "event_id", "w").collect()}
    assert s3 <= s6 and 200 < len(s3) < 400


def test_active_users_rolling_distinct(spark):
    from nsdb_spark.operators import analytics

    # bucket=10; user 1 active in buckets 0,2; user 2 in 0; user 3 in 2
    rows = [(1, 5), (1, 6), (1, 25), (2, 1), (3, 22)]
    ev = spark.createDataFrame(rows, "user_id long, timestamp long")
    out = {r["bucket_start"]: r for r in
           analytics.active_users(ev, bucket_ms=10, window_buckets=3).collect()}
    assert out[0]["dau"] == 2 and out[0]["wau"] == 2
    # bucket 2: active {1,3}; trailing 3 buckets {0,1,2} cover users {1,2,3}
    assert out[20]["dau"] == 2 and out[20]["wau"] == 3
    # bucket 1 has no events but the trailing window still covers users
    # {1,2} from bucket 0 -> emitted as a zero-dau row, not dropped
    assert out[10]["dau"] == 0 and out[10]["wau"] == 2


def test_postings_incremental_merge_invariant(spark):
    """Streaming maintenance of the inverted index: postings are additive
    partials — merge(postings(A), postings(B)) == postings(A ∪ B) (tf sums;
    dl is per-doc constant), so a foreachBatch ingest can maintain the
    postings table per batch without re-tokenizing history."""
    from nsdb_spark.operators import ranking

    rows = [(i, f"w{i % 7} join scan w{i % 5}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = docs.filter(F.col("doc_id") < 30)
    b = docs.filter(F.col("doc_id") >= 30)
    merged = (
        ranking.build_postings(a)
        .unionByName(ranking.build_postings(b))
        .groupBy("term", "doc_id")
        .agg(F.sum("tf").alias("tf"), F.first("dl").alias("dl"))
    )
    full = ranking.build_postings(docs)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_ngram_novelty(spark, docs):
    out = {r["doc_id"]: r for r in text.ngram_novelty(docs, n=3).collect()}
    # docs 0 and 2 are identical: every trigram shared -> novelty 0
    assert out[0]["novelty"] == 0.0 and out[2]["novelty"] == 0.0
    # doc 3 shares nothing -> novelty 1
    assert out[3]["novelty"] == 1.0
    # doc 1 differs from 0/2 only in the last word: 1 novel trigram of 7
    assert out[1]["novel_grams"] == 1 and out[1]["n_grams"] == 7


def test_quality_lr_score_shape(spark, docs):
    from nsdb_spark.operators import selection

    out = {r["doc_id"]: r for r in selection.quality_score_lr(docs).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    # identical docs score identically; the score is the mean milli-weight
    assert out[0]["logit_milli"] == out[2]["logit_milli"]
    for r in out.values():
        assert -1000 <= r["logit_milli"] / r["n_tokens"] <= 1000
        assert 0.0 <= r["lr_prob"] <= 1.0
        assert r["keep"] == (r["logit_milli"] > 0)
    # n_tokens counts all tokens (bag of words, not distinct)
    assert out[0]["n_tokens"] == 9 and out[4]["n_tokens"] == 1


def test_dsir_weights_favor_target_distribution(spark):
    from nsdb_spark.operators import selection

    # target slice speaks "alpha"; the rest speaks "beta" — docs that look
    # like the target LM must carry higher importance weights
    rows = (
        [(i, "alpha " * 20 + "common", True) for i in range(10)]
        + [(100 + i, "beta " * 20 + "common", False) for i in range(30)]
        + [(200, "alpha alpha alpha common", False)]  # raw doc, target-like
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    w = {r["doc_id"]: r["logw"]
         for r in selection.dsir_weights(docs, F.col("tgt"), buckets=64).collect()}
    assert w[200] > w[100]  # target-like raw doc outweighs off-domain doc
    assert w[0] > w[100]
    # sampling keeps the highest-key docs and is deterministic
    s1 = selection.dsir_sample(docs, F.col("tgt"), k=5, buckets=64).collect()
    s2 = selection.dsir_sample(docs, F.col("tgt"), k=5, buckets=64).collect()
    assert sorted(r["doc_id"] for r in s1) == sorted(r["doc_id"] for r in s2)
    assert len(s1) == 5


def test_decontaminate_fuzzy_catches_paraphrase(spark, docs):
    from nsdb_spark.operators import selection

    # bench = doc 2 (identical to 0, near-dup of 1); exact match AND the
    # paraphrase must both flag, the unrelated doc must not
    bench = docs.filter(F.col("doc_id") == 2)
    corpus = docs.filter(F.col("doc_id") != 2)
    out = {(r["doc_id"], r["bench_id"]): r["jaccard"]
           for r in selection.decontaminate_fuzzy(corpus, bench, threshold=0.5).collect()}
    assert out[(0, 2)] == 1.0
    assert 0.5 <= out[(1, 2)] < 1.0
    assert not any(d == 3 for d, _ in out)


def test_semantic_survivors_one_rep_per_cluster(spark):
    from nsdb_spark.operators import selection

    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(5, 16)
    rows = []
    vid = 0
    for b in base:
        for _ in range(3):  # 3 near-identical copies per direction
            v = b + rng.randn(16) * 0.01
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = selection.semantic_survivors(emb, threshold=0.9).collect()
    by_rep = {}
    for r in out:
        by_rep.setdefault(r["rep_id"], []).append(r)
    # 5 clusters of 3; exactly one survivor per cluster, the min id
    assert len(out) == 15 and len(by_rep) == 5
    for rep, members in by_rep.items():
        assert sum(m["survivor"] for m in members) == 1
        assert rep == min(m["vec_id"] for m in members)


def test_domain_mixture_temperature_rebalances(spark):
    from nsdb_spark.operators import selection

    # big domain 10x the tokens of the small one; alpha=0.5 must upsample
    # the small domain (rate > big's rate), and copy counts hit the
    # budget in expectation
    rows = [(i, "w " * 9 + "w", "big") for i in range(200)] + [
        (1000 + i, "w " * 9 + "w", "small") for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = selection.domain_mixture(docs, alpha=0.5).collect()
    rates = {r["source"]: r["rate"] for r in out}
    assert rates["small"] > 1.0 > rates["big"]
    # sqrt weighting: small's rate/big's rate == sqrt(10)
    assert abs(rates["small"] / rates["big"] - 10 ** 0.5) < 1e-4
    # copies: every kept row's copy_idx is dense 1..n per doc
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["copy_idx"])
    for idxs in by_doc.values():
        assert sorted(idxs) == list(range(1, len(idxs) + 1))
    # expected token budget ~ total tokens (10/doc); 5% tolerance
    total_tokens = sum(10 for _ in rows)
    emitted = sum(10 for _ in out)
    assert abs(emitted - total_tokens) / total_tokens < 0.05
    # deterministic across reruns
    again = selection.domain_mixture(docs, alpha=0.5).collect()
    assert sorted((r["doc_id"], r["copy_idx"]) for r in again) == sorted(
        (r["doc_id"], r["copy_idx"]) for r in out
    )


def test_interval_join_matches_bruteforce_and_avoids_nested_loop(spark):
    from nsdb_spark.operators import temporal_join

    # variable-length intervals incl. zero-length and cell-straddling
    iv = spark.createDataFrame(
        [(1, 10, 30), (2, 25, 25), (3, 0, 100), (4, 95, 99)],
        "iv_id long, s long, e long",
    )
    pts = spark.createDataFrame(
        [(i, t) for i, t in enumerate([0, 9, 10, 25, 30, 31, 96, 100])],
        "pt_id long, t long",
    )
    out = temporal_join.interval_join(pts, iv, "t", "s", "e", bucket=16)
    got = {(r["pt_id"], r["iv_id"]) for r in out.collect()}
    expect = {
        (p["pt_id"], i["iv_id"])
        for p in pts.collect()
        for i in iv.collect()
        if i["s"] <= p["t"] <= i["e"]
    }
    assert got == expect
    # boundary inclusivity on both ends
    assert (2, 1) in got and (4, 1) in got and (5, 1) not in got
    # the plan must be an equi-join on the cell, never a nested loop
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_minhash_incremental_equals_full_recompute(spark, tmp_path):
    """Invariant: write(old) + append(new) + incremental_pairs(new) ==
    minhash_lsh_pairs(old ∪ new) restricted to pairs involving a new doc
    — so a foreachBatch ingest can maintain the signature index per
    batch without ever re-tokenizing history."""
    rows = [
        (i, f"w{i % 4} a b c d e f g h common {i % 3}") for i in range(40)
    ] + [(100, "w0 a b c d e f g h common 0")]  # near-dup of doc 0's family
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 30)
    new = docs.filter(F.col("doc_id") >= 30)
    dedup.write_minhash_index(old, "mh_test_idx")
    dedup.append_minhash_index(new, "mh_test_idx")
    inc = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.minhash_incremental_pairs(
            spark, "mh_test_idx", F.col("doc_id") >= 30, threshold=0.5
        ).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
        if r["doc_a"] >= 30 or r["doc_b"] >= 30
    }
    assert inc == full and len(inc) > 0
    spark.sql("DROP TABLE IF EXISTS mh_test_idx")


def test_bigram_pmi_surfaces_collocations(spark):
    # "san francisco" always co-occurs (high PMI); "of the" is frequent
    # but independent (low PMI)
    rows = []
    for i in range(20):
        rows.append((i, "san francisco of the and of the to a"))
    for i in range(20, 40):
        rows.append((i, "of and the to of a the of and the"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.bigram_pmi(docs, k=5, min_count=5).collect()
    assert out[0]["bigram"] == "san francisco"
    pmis = {r["bigram"]: r["pmi"] for r in out}
    assert all(pmis["san francisco"] >= v for v in pmis.values())
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]


def test_triangle_counts_exact(spark):
    from nsdb_spark.operators import graph

    # K4 on {0,1,2,3} (4 triangles, each node in 3) + a chain 4-5-6 (0)
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(4, 5), (5, 6)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    out = {r["doc_id"]: r["n_triangles"] for r in graph.triangle_counts(pairs, nodes).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3, 4: 0, 5: 0, 6: 0}


def test_rerank_twostage_reorders_candidates(spark):
    from nsdb_spark.operators import ranking

    # doc 1 repeats "join" (BM25 saturates on tf); doc 2 covers all three
    # query terms once — the coverage re-scorer must put doc 2 first
    rows = [
        (1, "join join join join join filler filler filler"),
        (2, "join hash scan filler filler filler filler filler"),
        (3, "filler filler filler filler filler filler filler filler"),
        (4, "hash filler filler filler filler filler filler filler"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = ranking.rerank_topk(docs, ["join", "hash", "scan"], n_candidates=4, k=3).collect()
    assert out[0]["doc_id"] == 2 and out[0]["rank"] == 1
    ids = [r["doc_id"] for r in out]
    assert 3 not in ids  # no query term -> not in the candidate set
    # re-scorer only touches candidates: rerank_score embeds the bm25 prior
    for r in out:
        assert r["rerank_score"] >= r["bm25_score"]


def test_hll_rollup_merge_invariant_and_accuracy(spark):
    from nsdb_spark.operators import rollup

    # 3000 distinct users over two disjoint halves (LC at M=1024 would
    # saturate; HLL must estimate within its ~3% design error)
    rows = [(i * 37 % 900000000, i) for i in range(3000)]
    df = spark.createDataFrame(rows, "timestamp long, user_id long")
    shard = 100000000
    a = df.filter(F.col("user_id") < 1500)
    b = df.filter(F.col("user_id") >= 1500)
    bounds = rollup.temporal_bounds(df, shard)
    full, _ = rollup.build_hll_rollup(df, "user_id", shard, shard, p=10, bounds=bounds)
    ra, _ = rollup.build_hll_rollup(a, "user_id", shard, shard, p=10, bounds=bounds)
    rb, _ = rollup.build_hll_rollup(b, "user_id", shard, shard, p=10, bounds=bounds)
    merged = rollup.merge_hll_rollups(ra, rb)
    key = lambda frame: sorted(tuple(r) for r in frame.collect())
    assert key(merged) == key(full)  # register-for-register exact merge
    est = rollup.temporal_hll_from_rollup(
        spark, full, bounds, shard, shard * 10, p=10
    ).agg(F.sum("est_distinct")).first()[0]
    exact = df.select("user_id").distinct().count()
    assert abs(est - exact) / exact < 0.10  # 3σ of the 1.04/sqrt(1024) error


def test_bpe_train_matches_reference_and_roundtrips(spark):
    from nsdb_spark.operators import bpe

    rows = [(0, "low lower lowest low low"), (1, "new newer newest new"), (2, "low new")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges, vocab = bpe.bpe_train(docs, num_merges=8)
    v = {r["word"]: r["tokens"] for r in vocab.collect()}
    assert len(merges) == 8
    # frequent whole words compress to single tokens
    assert v["low"] == ["low" + bpe.EOW] and v["new"] == ["new" + bpe.EOW]
    for w, toks in v.items():
        # the distributed rewrite implements exactly the reference pass
        assert toks == bpe.bpe_reference_encode(w, merges)
        # roundtrip: concatenated tokens reproduce the word
        assert "".join(toks) == w + bpe.EOW
    # determinism: retrain learns the identical merge list
    merges2, _ = bpe.bpe_train(docs, num_merges=8)
    assert merges2 == merges


def test_bpe_encode_compresses_and_handles_oov(spark):
    from nsdb_spark.operators import bpe

    docs = spark.createDataFrame(
        [(0, "low lower lowest low low"), (1, "new newer newest new")],
        "doc_id long, text string",
    )
    merges, vocab = bpe.bpe_train(docs, num_merges=8)
    _, vocab0 = bpe.bpe_train(docs, num_merges=0)
    enc = {r["doc_id"]: r["n_tokens_bpe"] for r in bpe.bpe_encode(docs, vocab).collect()}
    base = {r["doc_id"]: r["n_tokens_bpe"] for r in bpe.bpe_encode(docs, vocab0).collect()}
    assert all(enc[d] < base[d] for d in enc)  # merges shorten every doc
    # OOV docs fall back to character symbols (+ end-of-word marker)
    oov = spark.createDataFrame([(9, "zzz qq")], "doc_id long, text string")
    out = bpe.bpe_encode(oov, vocab).collect()[0]
    assert out["n_tokens_bpe"] == 4 + 3  # z z z ▁ | q q ▁


def test_cusum_detects_level_shift(spark):
    from nsdb_spark.operators import tsa

    # key 1: flat series then a sustained +10 shift — CUSUM must alarm;
    # key 2: white-ish noise around a constant — no alarm
    rows = []
    for i in range(40):
        v = 10.0 + (i % 2) * 0.2
        rows.append((1, i * 1000, i, v if i < 20 else v + 10.0))
        rows.append((2, i * 1000, 100 + i, 10.0 + (i % 3) * 0.1))
    df = spark.createDataFrame(rows, "user_id long, timestamp long, event_id long, value double")
    out = {r["user_id"]: r for r in tsa.cusum_summary(df).collect()}
    assert out[1]["n_alarms"] > 0 and out[1]["max_s"] > out[1]["final_s"] * 0  # shifted key alarms
    assert out[2]["n_alarms"] == 0
    # closed form == explicit recurrence on the shifted key
    xs = [r[3] for r in sorted(rows, key=lambda r: (r[1], r[2])) if r[0] == 1]
    mu = sum(xs) / len(xs)
    s = mx = 0.0
    for x in xs:
        s = max(0.0, s + (x - mu))
        mx = max(mx, s)
    assert abs(out[1]["final_s"] - round(s, 6)) < 1e-6
    assert abs(out[1]["max_s"] - round(mx, 6)) < 1e-6


def test_psi_flags_shifted_group(spark):
    from nsdb_spark.operators import analytics

    # group "shifted" concentrates in the top of the range; "like_pop"
    # mirrors the population — its PSI must be far lower
    rows = (
        [(i, "like_pop", (i * 13) % 100) for i in range(200)]
        + [(1000 + i, "shifted", 90 + (i % 10)) for i in range(50)]
        + [(2000 + i, "also_pop", (i * 7) % 100) for i in range(200)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = {r["source"]: r["psi"] for r in analytics.psi_by_group(docs).collect()}
    assert out["shifted"] > 0.2  # the standard alert threshold
    assert out["like_pop"] < 0.1 and out["also_pop"] < 0.1


def test_pca_whiten_identity_covariance(spark):
    import numpy as np

    from nsdb_spark.operators import clustering

    rng = np.random.RandomState(3)
    # anisotropic cloud: variance 100x larger along one direction
    X = rng.randn(300, 8) * np.array([10, 1, 1, 1, 1, 1, 1, 1])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    mean, comps, var = clustering.pca_fit(emb, k=4)
    W = np.array(
        [r["white"] for r in clustering.pca_whiten(emb, mean, comps, var).orderBy("vec_id").collect()]
    )
    cov = np.cov(W.T)
    # whitened covariance ≈ identity: unit diagonals, tiny off-diagonals
    assert np.allclose(np.diag(cov), 1.0, atol=0.05)
    off = cov - np.diag(np.diag(cov))
    assert np.abs(off).max() < 0.05


def test_interval_join_drops_empty_intervals(spark):
    from nsdb_spark.operators import temporal_join

    iv = spark.createDataFrame([(1, 50, 10)], "iv_id long, s long, e long")
    pts = spark.createDataFrame([(0, 30)], "pt_id long, t long")
    # end < start matches nothing (BETWEEN semantics) — and must not
    # generate a descending cell sequence
    assert temporal_join.interval_join(pts, iv, "t", "s", "e", bucket=16).count() == 0


def test_group_temporal_rollup_merge_and_topk(spark):
    from nsdb_spark.operators import rollup

    rows = [(i * 100, f"t{i % 4}") for i in range(80)] + [(500, "t0")] * 5
    df = spark.createDataFrame(rows, "timestamp long, event_type string")
    shard = 4000
    bounds = rollup.temporal_bounds(df, shard)
    full, _ = rollup.build_group_temporal_rollup(
        df, "event_type", 1000, shard, bounds=bounds
    )
    # merge invariant: per-batch partials re-add to the full counts
    a = df.filter(F.col("timestamp") < 4000)
    b = df.filter(F.col("timestamp") >= 4000)
    ra, _ = rollup.build_group_temporal_rollup(a, "event_type", 1000, shard, bounds=bounds)
    rb, _ = rollup.build_group_temporal_rollup(b, "event_type", 1000, shard, bounds=bounds)
    merged = (
        ra.unionByName(rb).groupBy("k", "item").agg(F.sum("cnt").alias("cnt"))
    )
    key = lambda fr: sorted(tuple(r) for r in fr.collect())
    assert key(merged) == key(full)
    # top-1 per coarse bucket matches a direct computation on raw rows
    top = rollup.temporal_topk_from_rollup(spark, full, bounds, 1000, 4000, n_top=1)
    got = {(r["upper_bound"], r["item"]) for r in top.collect()}
    lower, upper = bounds
    direct = {}
    for t, e in rows:
        kc = min((upper - t) // 4000, -((upper - lower) // -4000) - 1)
        direct.setdefault(kc, {}).setdefault(e, 0)
        direct[kc][e] += 1
    expect = {
        (upper - kc * 4000, min((i for i, c in items.items() if c == max(items.values()))))
        for kc, items in direct.items()
    }
    assert got == expect and len(got) > 0
    # the burst bucket's winner is the bursted item
    burst_bucket = [r for r in top.collect() if r["lower_bound"] <= 500 < r["upper_bound"]]
    assert burst_bucket and burst_bucket[0]["item"] == "t0"


def test_psi_constant_column_and_cusum_single_event(spark):
    from nsdb_spark.operators import analytics, tsa

    # constant value column: every doc in one bin, PSI 0 — not a crash
    docs = spark.createDataFrame(
        [(i, "s%d" % (i % 2), 7) for i in range(20)],
        "doc_id long, source string, n_chars long",
    )
    out = {r["source"]: r["psi"] for r in analytics.psi_by_group(docs).collect()}
    # identical distributions: equal, small smoothing-floor PSI (the
    # +0.5/bin prior weighs differently at n=10 vs N=20), far below 0.2
    assert out["s0"] == out["s1"] and out["s0"] < 0.1
    # a key with ONE event: stddev undefined -> 0 alarms (not NULL)
    df = spark.createDataFrame(
        [(1, 0, 0, 5.0), (2, 0, 1, 1.0), (2, 1000, 2, 2.0), (2, 2000, 3, 3.0)],
        "user_id long, timestamp long, event_id long, value double",
    )
    out = {r["user_id"]: r for r in tsa.cusum_summary(df).collect()}
    assert out[1]["n_alarms"] == 0 and out[1]["n"] == 1
    assert out[1]["final_s"] == 0.0  # single mean-centered point


def test_domain_mixture_zero_budget_and_bpe_early_stop(spark):
    from nsdb_spark.operators import bpe, selection

    docs = spark.createDataFrame(
        [(1, "a b c", "s"), (2, "d e f", "t")], "doc_id long, text string, source string"
    )
    # explicit zero budget = empty mixture, not the full corpus
    assert selection.domain_mixture(docs, total_budget_tokens=0).count() == 0
    # no pair ever repeats -> training stops before num_merges
    uniq = spark.createDataFrame([(0, "ab cd"), (1, "ef gh")], "doc_id long, text string")
    merges, vocab = bpe.bpe_train(uniq, num_merges=10)
    assert len(merges) < 10
    for r in vocab.collect():
        assert "".join(r["tokens"]) == r["word"] + bpe.EOW


def test_hash_sample_survives_64bit_ids(spark):
    from nsdb_spark.operators import sampling

    # snowflake-scale and negative ids: no ANSI overflow, slots match the
    # exact modular arithmetic, and the old formula where it didn't overflow
    ids = [1, 999, 2**31 - 1, 4_000_000_000, 2**62 + 12345, -7]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = df.select("doc_id", sampling._slot(F.col("doc_id"), 1000).alias("s")).collect()
    got = {r["doc_id"]: r["s"] for r in out}
    for i in ids:
        assert got[i] == ((i % 2**32) * 2654435761) % 2**32 % 1000, i
        assert 0 <= got[i] < 1000


def test_asof_join_null_payload_is_latest_not_stale(spark):
    """A right row whose payload is legitimately NULL must win over an
    older non-null row — 'latest right row', not 'latest non-null'."""
    from nsdb_spark.operators import temporal_join

    left = spark.createDataFrame([(1, 100)], "k long, lt long")
    right = spark.createDataFrame(
        [(1, 50, 5.0), (1, 90, None)], "k long, rt long, v double"
    )
    out = temporal_join.asof_join(
        left, right, on=("k", "k"), ts=("lt", "rt"), payload=["v"]
    ).collect()
    assert out[0]["asof_v"] is None  # the ts=90 row, not the stale 5.0
    # and a left row before any right row still gets NULL
    left2 = spark.createDataFrame([(1, 10)], "k long, lt long")
    out2 = temporal_join.asof_join(
        left2, right, on=("k", "k"), ts=("lt", "rt"), payload=["v"]
    ).collect()
    assert out2[0]["asof_v"] is None


def test_psi_null_values_excluded_from_population(spark):
    """Rows whose value is NULL land in no bin; counting them into the
    population total would deflate every q_b. PSI over a frame with NULL
    values must equal PSI over the same frame with those rows removed."""
    from nsdb_spark.operators import analytics

    rows = (
        [(i, "a", float((i * 13) % 100)) for i in range(100)]
        + [(200 + i, "b", float(90 + (i % 10))) for i in range(40)]
        + [(900 + i, "a", None) for i in range(30)]  # NULL values
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars double")
    with_nulls = {
        r["source"]: (r["n"], r["psi"])
        for r in analytics.psi_by_group(docs).collect()
    }
    clean = {
        r["source"]: (r["n"], r["psi"])
        for r in analytics.psi_by_group(docs.dropna(subset=["n_chars"])).collect()
    }
    assert with_nulls == clean


def test_passage_dup_stats_canonical_first_and_remainder(spark):
    """Every occurrence of a passage except the corpus-wide (doc, pos)
    minimum is a duplicate; the trailing <k-word remainder is its own
    passage."""
    from nsdb_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c x y z"),
            (3, "a b c d e f"),
            (4, "q r s t"),  # remainder window: ["q r s", "t"]
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_passages"], r["dup_passages"], r["dup_frac"])
        for r in dedup.passage_dup_stats(docs, k=3).collect()
    }
    assert out[1] == (2, 0, 0.0)   # both canonical copies live here
    assert out[2] == (2, 1, 0.5)   # "a b c" repeated, "x y z" unique
    assert out[3] == (2, 2, 1.0)   # byte-identical doc: fully duplicated
    assert out[4] == (2, 0, 0.0)


def test_cross_source_dup_matrix_counts_pairs_and_groups(spark):
    """Pair math per hash group: within-source C(c,2), cross-source
    c_a*c_b; unique docs contribute nothing; NULL sources bucket
    together and come back as NULL; NULL texts are excluded."""
    from nsdb_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "dup one", "A"),
            (2, "dup one", "A"),      # within-A pair
            (3, "dup one", "B"),      # crosses to both A copies
            (4, "dup two", "B"),
            (5, "dup two", None),     # cross B x NULL-source
            (6, "unique text", "A"),  # no pairs
            (7, None, "A"),           # NULL text excluded entirely
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source_a"], r["source_b"]): (r["dup_pairs"], r["dup_groups"])
        for r in dedup.cross_source_dup_matrix(docs).collect()
    }
    assert out == {
        ("A", "A"): (1, 1),   # C(2,2 copies) = 1 pair, 1 group
        ("A", "B"): (2, 1),   # 2 A-copies x 1 B-copy
        # the \x00 sentinel sorts before any real source, so the NULL
        # bucket lands on the source_a side before nullif restores it
        (None, "B"): (1, 1),  # NULL source surfaces, not silently dropped
    }


def test_passage_dup_stats_strided_catches_offset_duplicates(spark):
    """stride < k overlaps the windows, so a passage duplicated at an
    offset that straddles the non-overlapping window grid is still
    caught; stride=k (the default) must stay bit-identical to the
    original non-overlapping behavior."""
    import pytest
    from nsdb_spark.operators import dedup

    # doc 2 repeats doc 1's words 2..5 ("c d e f") but shifted off the
    # k=4 grid: non-overlapping windows never align on it
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "x y c d e f q r"),
        ],
        "doc_id long, text string",
    )
    flat = {
        r["doc_id"]: r["dup_passages"]
        for r in dedup.passage_dup_stats(docs, k=4).collect()
    }
    assert flat == {1: 0, 2: 0}  # grid-aligned pass misses the overlap
    strided = {
        r["doc_id"]: (r["n_passages"], r["dup_passages"])
        for r in dedup.passage_dup_stats(docs, k=4, stride=2).collect()
    }
    # windows every 2 words: doc 1 pos1 = "c d e f" is canonical; doc 2
    # pos1 = "c d e f" is the caught duplicate
    assert strided[1] == (4, 0)
    assert strided[2][0] == 4 and strided[2][1] >= 1
    # explicit stride=k == default
    a = sorted(map(tuple, dedup.passage_dup_stats(docs, k=4).collect()))
    b = sorted(map(tuple, dedup.passage_dup_stats(docs, k=4, stride=4).collect()))
    assert a == b
    for bad in (0, -1, 5):
        with pytest.raises(ValueError, match="stride"):
            dedup.passage_dup_stats(docs, k=4, stride=bad)


def test_keep_best_per_cluster_prefers_score_then_min_id(spark):
    from nsdb_spark.operators import dedup

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5)],
        "doc_id long, cluster_id long",
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.5), (5, 0.1)],
        "doc_id long, quality double",
    )
    out = {r["doc_id"]: r["keep"]
           for r in dedup.keep_best_per_cluster(clusters, scores).collect()}
    # cluster 1: docs 2 and 3 tie on 0.9 -> min doc_id (2) wins, not min-id-overall (1)
    assert out == {1: False, 2: True, 3: False, 4: True, 5: True}


def test_passage_dup_stats_rejects_out_of_range_doc_id(spark):
    """A doc_id that would wrap the canonical composite key must raise,
    not silently flip which occurrence is canonical."""
    import pytest
    from nsdb_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1 << 42, "a b c d")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="out of range"):
        dedup.passage_dup_stats(docs, k=2).collect()


def test_epoch_shuffle_is_bijective_deterministic_and_epoch_varying(spark):
    from nsdb_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, "t") for i in range(500)], "doc_id long, text string"
    )
    e1 = {r["doc_id"]: r["pos"] for r in sampling.epoch_shuffle(docs, 1).collect()}
    # bijection onto 0..n-1
    assert sorted(e1.values()) == list(range(500))
    # layout-invariant: same epoch, different partitioning, same order
    e1b = {r["doc_id"]: r["pos"]
           for r in sampling.epoch_shuffle(docs.repartition(13), 1).collect()}
    assert e1 == e1b
    # different epoch: different permutation (still a bijection)
    e2 = {r["doc_id"]: r["pos"] for r in sampling.epoch_shuffle(docs, 2).collect()}
    assert sorted(e2.values()) == list(range(500))
    assert e1 != e2
    # …and genuinely DECORRELATED, not a rotation of the same circular
    # order (a single multiplicative round is affine in id, making the
    # epoch an additive key constant — successor pairs would then be
    # 100% preserved and batch composition identical across epochs)
    def successors(order):
        by_pos = sorted(order, key=order.get)
        return {(by_pos[i], by_pos[(i + 1) % len(by_pos)])
                for i in range(len(by_pos))}

    preserved = len(successors(e1) & successors(e2))
    assert preserved < 25  # ~n/500 expected by chance; rotation gives 500


def test_active_users_emits_gap_bucket_with_zero_dau(spark):
    """A bucket where nobody is active but the trailing window still
    covers earlier users must appear as (dau=0, wau>0), not vanish."""
    from nsdb_spark.operators import analytics

    ev = spark.createDataFrame(
        [(1, 0), (2, 0), (1, 2 * 86400000)],
        "user_id long, timestamp long",
    )
    out = {r["bucket_start"] // 86400000: (r["dau"], r["wau"])
           for r in analytics.active_users(ev, 86400000, window_buckets=7).collect()}
    assert out[0] == (2, 2)
    assert out[1] == (0, 2)   # the gap day: zero dau, window still covers day 0
    assert out[2] == (1, 2)   # distinct USERS: user 1 counts once despite 2 visits


def test_bigram_pmi_total_unaffected_by_min_count(spark):
    """min_count prunes candidates; it must not re-normalize P(w1,w2).
    A pair kept under both settings scores identically."""
    from nsdb_spark.operators import text

    docs = spark.createDataFrame(
        [(i, "a b " * 10 + "c d " * 2 + "e f") for i in range(5)],
        "doc_id long, text string",
    )
    strict = {r["bigram"]: r["pmi"]
              for r in text.bigram_pmi(docs, k=5, min_count=20).collect()}
    loose = {r["bigram"]: r["pmi"]
             for r in text.bigram_pmi(docs, k=50, min_count=1).collect()}
    for bg, pmi in strict.items():
        assert loose[bg] == pmi, bg


def test_equidepth_histogram_single_bin(spark):
    from nsdb_spark.operators import analytics

    df = spark.createDataFrame([(float(i),) for i in range(10)], "v double")
    rows = analytics.equidepth_histogram(df, "v", 1).collect()
    assert len(rows) == 1
    assert (rows[0]["bin"], rows[0]["n"], rows[0]["min_value"],
            rows[0]["max_value"]) == (0, 10, 0.0, 9.0)


def test_domain_mixture_ignores_null_sources(spark):
    """NULL-source docs earn no budget share (they can't be emitted
    through the rate join) — the mixture over a frame with NULL sources
    equals the mixture over the same frame with them removed."""
    from pyspark.sql import functions as F
    from nsdb_spark.operators import selection

    rows = [(i, "a", "w " * 20) for i in range(40)] + \
           [(100 + i, None, "w " * 20) for i in range(10)] + \
           [(200 + i, "b", "w " * 5) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    with_nulls = sorted(
        (r["doc_id"], r["copy_idx"])
        for r in selection.domain_mixture(docs, alpha=0.5).collect()
    )
    clean = sorted(
        (r["doc_id"], r["copy_idx"])
        for r in selection.domain_mixture(
            docs.filter(F.col("source").isNotNull()), alpha=0.5
        ).collect()
    )
    assert with_nulls == clean


def test_lc_distinct_rollup_ignores_null_field(spark):
    """count distinct ignores NULLs (the HLL-path rule): an LC rollup
    built over rows with NULL field values must estimate the same count
    as one built with those rows removed."""
    from pyspark.sql import functions as F
    from nsdb_spark.operators import rollup

    rows = [(i * 100, float(i), f"u{i % 7}") for i in range(50)] + [
        (i * 100 + 1, 0.0, None) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "timestamp long, value double, name string")
    with_nulls, _ = rollup.build_distinct_rollup(
        df, "name", 1000, 10000, bounds=(0, 10000)
    )
    clean, _ = rollup.build_distinct_rollup(
        df.filter(F.col("name").isNotNull()), "name", 1000, 10000, bounds=(0, 10000)
    )
    a = rollup.temporal_count_distinct_from_rollup(
        spark, with_nulls, (0, 10000), 1000, 1000
    ).collect()
    b = rollup.temporal_count_distinct_from_rollup(
        spark, clean, (0, 10000), 1000, 1000
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    gw = rollup.build_group_distinct_rollup(df, "value", "name")
    gc = rollup.build_group_distinct_rollup(
        df.filter(F.col("name").isNotNull()), "value", "name"
    )
    ga = rollup.group_count_distinct_from_rollup(gw, "value").collect()
    gb = rollup.group_count_distinct_from_rollup(gc, "value").collect()
    assert sorted(map(tuple, ga)) == sorted(map(tuple, gb))


def test_keep_best_per_cluster_retains_unscored_members(spark):
    """A cluster member missing from the score table must stay in the
    output (behind every scored member); an all-unscored cluster keeps
    its min-id member."""
    from nsdb_spark.operators import dedup

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5), (6, 5)], "doc_id long, cluster_id long"
    )
    scores = spark.createDataFrame([(1, 0.2)], "doc_id long, quality double")
    out = {r["doc_id"]: (r["keep"], r["quality"])
           for r in dedup.keep_best_per_cluster(clusters, scores).collect()}
    assert out[1] == (True, 0.2)    # the only scored member wins
    assert out[2] == (False, None)  # unscored: retained, not kept
    assert out[5] == (True, None)   # all-unscored cluster: min id keeps
    assert out[6] == (False, None)


def test_ks_two_sample_matches_bruteforce(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(7)
    a = rng.normal(0.0, 1.0, 200).round(2)      # rounding forces ties
    b = rng.normal(0.5, 1.2, 150).round(2)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    got = analytics.ks_two_sample(df, "v", "g", "a", "b").collect()[0]
    # brute-force reference: CDF difference at every pooled point
    pooled = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(np.sort(a), pooled, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), pooled, side="right") / len(b)
    assert got["ks_stat"] == round(float(np.max(np.abs(fa - fb))), 6)
    assert got["n_a"] == 200 and got["n_b"] == 150


def test_ks_two_sample_identical_and_empty(spark):
    import pytest
    from nsdb_spark.operators import analytics

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0), ("b", None)],
        "g string, v double",
    )
    # identical distributions → D = 0; the NULL is excluded, not a tie
    got = analytics.ks_two_sample(df, "v", "g", "a", "b").collect()[0]
    assert got["ks_stat"] == 0.0 and got["n_b"] == 2
    with pytest.raises(ValueError, match="empty sample"):
        analytics.ks_two_sample(df, "v", "g", "a", "missing")


def test_category_diversity_entropy_gini(spark):
    import math
    from nsdb_spark.operators import analytics

    rows = (
        [("s1", "en")] * 2 + [("s1", "fr")] * 2   # uniform over 2 cats
        + [("s2", "en")] * 5                       # single category
        + [("s3", None)]                           # all-NULL group drops out
        + [("s1", None)]                           # NULL excluded from s1
    )
    df = spark.createDataFrame(rows, "src string, lang string")
    got = {r["src"]: r for r in
           analytics.category_diversity(df, "src", "lang").collect()}
    assert set(got) == {"s1", "s2"}
    assert got["s1"]["n_cats"] == 2
    assert got["s1"]["entropy"] == round(math.log(2), 6)
    assert got["s1"]["gini"] == 0.5
    assert got["s2"]["entropy"] == 0.0 and got["s2"]["gini"] == 0.0


def test_label_propagation_two_cliques(spark):
    from nsdb_spark.operators import graph
    from pyspark.sql import functions as F

    # triangle {1,2,3}, triangle {10,11,12}, bridge-less; isolated 99
    und = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    nodes = spark.createDataFrame(
        [(n,) for n in (1, 2, 3, 10, 11, 12, 99)], "node long"
    )
    got = {r["node"]: r["label"] for r in
           graph.label_propagation(edges, nodes, iters=4).collect()}
    # sync min-label LPA converges each clique to its smallest id
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == got[12] == 10
    assert got[99] == 99  # isolated keeps its own label


def test_label_propagation_tie_breaks_to_smallest(spark):
    from nsdb_spark.operators import graph

    # node 5 sees labels {1, 2} once each after round 1 — min label wins
    und = [(1, 5), (2, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (5,)], "node long")
    got = {r["node"]: r["label"] for r in
           graph.label_propagation(edges, nodes, iters=1).collect()}
    assert got[5] == 1


def test_mannwhitney_u_matches_bruteforce_with_ties(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(11)
    a = rng.normal(0.0, 1.0, 80).round(1)    # coarse rounding → many ties
    b = rng.normal(0.4, 1.0, 60).round(1)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    got = analytics.mannwhitney_u(df, "v", "g", "a", "b").collect()[0]
    # brute force: average ranks over the pooled sample
    pooled = np.concatenate([a, b])
    order = np.argsort(pooled, kind="stable")
    ranks = np.empty(len(pooled))
    sorted_v = pooled[order]
    i = 0
    while i < len(sorted_v):
        j = i
        while j < len(sorted_v) and sorted_v[j] == sorted_v[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0   # average of ranks i+1..j
        i = j
    r_a = float(ranks[: len(a)].sum())
    assert got["r_a"] == r_a
    assert got["u_a"] == r_a - len(a) * (len(a) + 1) / 2.0
    assert got["n_a"] == 80 and got["n_b"] == 60


def test_autocorr_known_series(spark):
    import numpy as np
    from nsdb_spark.operators import tsa

    # alternating series: lag-1 ACF ≈ -1, lag-2 ACF ≈ +1
    rows = [("k", i, i, float((-1) ** i)) for i in range(40)]
    rows += [("j", 0, 100, 7.0)]  # second key, single-point series
    # constant multi-row key: den = 0.0 with a NON-NULL numerator (0.0),
    # the case that is an ANSI DIVIDE_BY_ZERO without the den != 0 guard
    # (the single-point key never hits the check — its numerator is NULL)
    rows += [("c", i, 200 + i, 5.0) for i in range(10)]
    df = spark.createDataFrame(
        rows, "event_type string, timestamp long, event_id long, value double"
    )
    got = {(r["event_type"], r["lag"]): r["acf"] for r in
           tsa.autocorr(df, lags=(1, 2)).collect()}
    x = np.array([(-1.0) ** i for i in range(40)])
    dev = x - x.mean()
    den = float((dev * dev).sum())
    exp1 = round(float((dev[1:] * dev[:-1]).sum()) / den, 6)
    exp2 = round(float((dev[2:] * dev[:-2]).sum()) / den, 6)
    assert got[("k", 1)] == exp1 and exp1 < -0.9
    assert got[("k", 2)] == exp2 and exp2 > 0.9
    # single-point series: den = 0 → NULL acf, not a crash
    assert got[("j", 1)] is None
    # constant series: den = 0, num = 0.0 → NULL acf, not DIVIDE_BY_ZERO
    assert got[("c", 1)] is None and got[("c", 2)] is None


def test_chi2_independence_known_table(spark):
    from nsdb_spark.operators import analytics

    # classic 2x2: obs [[10, 20], [30, 40]]
    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 20
        + [("b", "x")] * 30 + [("b", "y")] * 40
        + [(None, "x"), ("a", None)]   # NULLs excluded pairwise
    )
    df = spark.createDataFrame(rows, "lang string, src string")
    got = analytics.chi2_independence(df, "lang", "src").collect()[0]
    n = 100
    exp = [[30 * 40 / n, 30 * 60 / n], [70 * 40 / n, 70 * 60 / n]]
    obs = [[10, 20], [30, 40]]
    chi2 = sum(
        (obs[i][j] - exp[i][j]) ** 2 / exp[i][j]
        for i in range(2) for j in range(2)
    )
    assert got["chi2"] == round(chi2, 6)
    assert got["dof"] == 1 and got["n"] == 100


def test_append_partitioned_survives_catalog_loss(spark):
    """A process restart loses the in-memory catalog while the warehouse
    directory persists; append_partitioned must re-register the table
    over its surviving location and append — not fail with
    LOCATION_ALREADY_EXISTS (and the write_* siblings' delete-the-dir
    fix would destroy the index being appended to)."""
    import os
    import shutil

    from nsdb_spark.sources import bucketed

    df = spark.createDataFrame([(1, 0), (2, 1)], "vec_id long, cell int")
    bucketed.write_partitioned(df, "reattach_src_t", "cell")
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    # the warehouse dir persists across pytest runs: drop any leftover
    # dst table AND its unregistered directory from a previous suite run,
    # or copytree below fails on the second run against one checkout
    spark.sql("DROP TABLE IF EXISTS reattach_dst_t")
    shutil.rmtree(os.path.join(wh, "reattach_dst_t"), ignore_errors=True)
    # simulate the lost catalog: a table directory with NO catalog entry
    shutil.copytree(
        os.path.join(wh, "reattach_src_t"), os.path.join(wh, "reattach_dst_t")
    )
    assert not spark.catalog.tableExists("reattach_dst_t")
    batch = spark.createDataFrame([(3, 0), (4, 2)], "vec_id long, cell int")
    bucketed.append_partitioned(batch, "reattach_dst_t", "cell")
    out = sorted(tuple(r) for r in spark.table("reattach_dst_t").collect())
    assert out == [(1, 0), (2, 1), (3, 0), (4, 2)]


def test_ivf_assign_ties_break_toward_lowest_cell(spark):
    """Duplicate centroids (k-means twins / degenerate layouts): stored
    assignments must pick the LOWEST tied index, the same rule the
    probe order (_nearest_cells) and pq.py's argmin use — otherwise
    nprobe=1 probes the lower twin while every vector sits in the
    higher one, returning zero rows for an exact-match query."""
    from nsdb_spark.operators import similarity

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    cents = [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]]  # cells 0 and 1 are twins
    got = {r["vec_id"]: r["cell"]
           for r in similarity.ivf_assign(emb, cents).collect()}
    assert got == {0: 0, 1: 2}
    # end-to-end: nprobe=1 finds the exact-match vector through the tie
    out = similarity.ivf_topk(emb, [1.0, 0.0], cents, k=1, nprobe=1).collect()
    assert [r["vec_id"] for r in out] == [0]


def test_welch_ttest_known_samples(spark):
    import math

    from nsdb_spark.operators import analytics

    a = [1.0, 2.0, 3.0, 4.0]
    b = [2.0, 4.0, 6.0, 8.0, 10.0]
    rows = (
        [("a", v) for v in a] + [("b", v) for v in b]
        + [("c", 99.0), ("a", None)]   # other group + NULL excluded
    )
    df = spark.createDataFrame(rows, "g string, value double")
    got = analytics.welch_ttest(df, "value", "g", "a", "b").collect()[0]

    def mv(xs):
        n = len(xs)
        m = sum(xs) / n
        v = (sum(x * x for x in xs) - sum(xs) ** 2 / n) / (n - 1)
        return n, m, v

    na, ma, va = mv(a)
    nb, mb, vb = mv(b)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    dof = se2 * se2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    assert got["t_stat"] == round(t, 6)
    assert got["dof"] == round(dof, 2)
    assert got["mean_a"] == round(ma, 4) and got["mean_b"] == round(mb, 4)
    assert got["n_a"] == na and got["n_b"] == nb


def test_cube_counts_lattice(spark):
    from nsdb_spark.operators import analytics

    rows = [
        ("O", "HIGH", 10.0), ("O", "LOW", 20.0),
        ("F", "HIGH", 30.0), (None, "HIGH", 99.0),  # NULL key excluded
    ]
    df = spark.createDataFrame(rows, "s string, p string, v double")
    out = analytics.cube_counts(df, ["s", "p"], "v").collect()
    cells = {(r["s"], r["p"]): (r["n_rows"], r["sum_value"]) for r in out}
    # full lattice: 3 exact cells + 2 s-marginals + 2 p-marginals + total
    assert len(cells) == 8
    assert cells[("O", None)] == (2, 30.0)
    assert cells[(None, "HIGH")] == (2, 40.0)
    assert cells[(None, None)] == (3, 60.0)
    assert cells[("F", "HIGH")] == (1, 30.0)


def test_js_divergence_matches_direct_formula(spark):
    import math

    from nsdb_spark.operators import text

    docs = spark.createDataFrame(
        [(0, "a a b", "g1"), (1, "b c", "g2"), (2, "a b", "g1"),
         (3, None, "g1"), (4, "x", None)],   # NULL text/group excluded
        "doc_id long, text string, source string",
    )
    out = {
        r["source"]: r
        for r in text.js_divergence_by_group(docs, "source").collect()
    }
    corpus = {"a": 3, "b": 3, "c": 1}
    ct = sum(corpus.values())
    groups = {"g1": {"a": 3, "b": 2}, "g2": {"b": 1, "c": 1}}
    for g, wc in groups.items():
        gt = sum(wc.values())
        jsd = 0.0
        # direct two-sided sum over the FULL vocab — validates the
        # operator's analytic absent-word folding against first
        # principles, not against its own shortcut
        for w, cc in corpus.items():
            p = wc.get(w, 0) / gt
            q = cc / ct
            m = (p + q) / 2
            if p > 0:
                jsd += 0.5 * p * math.log2(p / m)
            jsd += 0.5 * q * math.log2(q / m)
        assert out[g]["jsd"] == round(jsd, 6), g
        assert out[g]["n_words"] == gt


def test_centroid_outliers_flags_farthest(spark):
    from nsdb_spark.operators import similarity

    rows = [
        (0, [1.0, 0.0], 0), (1, [1.0, 0.1], 0), (2, [0.0, 1.0], 0),
        (3, [5.0, 5.0], 1), (4, [6.0, 6.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = similarity.centroid_outliers(df, bottom_k=2)
    got = {(r["label"], r["rn"]): r["vec_id"] for r in out.collect()}
    # label 0 centroid ~ (0.667, 0.367): vec 2 is farthest
    assert got[(0, 1)] == 2
    # label 1: both vectors are colinear with the centroid — cosine 1
    # for both, tie broken by vec_id
    assert got[(1, 1)] == 3 and got[(1, 2)] == 4
    assert out.count() == 4  # bottom_k=2 per label


def test_seasonal_adjust_removes_pure_seasonality(spark):
    from nsdb_spark.operators import tsa

    # period 2 ms, bucket 1 ms: even ts → 10, odd ts → 20; a pure
    # seasonal series adjusts to the flat grand mean everywhere
    rows = [(i, "k", i, 10.0 if i % 2 == 0 else 20.0) for i in range(6)]
    rows.append((6, "k", 6, None))   # NULL value passes through
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, timestamp long, value double"
    )
    out = tsa.seasonal_adjust(
        df, period_ms=2, bucket_ms=1, key="event_type"
    ).collect()
    by_id = {r["event_id"]: r for r in out}
    assert len(by_id) == 7
    for i in range(6):
        assert by_id[i]["phase"] == i % 2
        assert by_id[i]["seasonal"] == (10.0 if i % 2 == 0 else 20.0)
        assert by_id[i]["adjusted"] == 15.0
    assert by_id[6]["seasonal"] == 10.0 and by_id[6]["adjusted"] is None


def test_welch_ttest_single_sample_group_is_null_not_error(spark):
    from nsdb_spark.operators import analytics

    d = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("b", 3.0)], "g string, value double"
    )
    got = analytics.welch_ttest(d, "value", "g", "a", "b").collect()[0]
    # 1-sample side: variance undefined -> t/dof NULL (DuckDB /0 parity)
    assert got["t_stat"] is None and got["dof"] is None
    assert got["n_a"] == 1 and got["mean_a"] == 1.0


def test_scrub_duplicate_passages_keeps_canonical_copy(spark):
    import hashlib

    from nsdb_spark.operators import dedup

    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b x y"), (2, "a b c d"), (3, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           dedup.scrub_duplicate_passages(docs, k=2).collect()}
    # doc 0 holds the canonical copy of both its windows
    assert out[0]["n_kept"] == 2 and out[0]["n_removed"] == 0
    assert out[0]["clean_digest"] == hashlib.md5(b"a b c d").hexdigest()
    # doc 1: "a b" is a duplicate occurrence (canonical lives in doc 0)
    assert out[1]["n_kept"] == 1 and out[1]["n_removed"] == 1
    assert out[1]["clean_digest"] == hashlib.md5(b"x y").hexdigest()
    # doc 2 is a full duplicate: everything scrubbed, '' not NULL
    assert out[2]["n_kept"] == 0 and out[2]["n_removed"] == 2
    assert out[2]["clean_len"] == 0
    assert out[2]["clean_digest"] == hashlib.md5(b"").hexdigest()
    # NULL-text doc has no windows and drops
    assert 3 not in out


def test_bootstrap_mean_ci_deterministic_and_sane(spark):
    from nsdb_spark.operators import analytics

    rows = [(i, float(i % 10)) for i in range(200)] + [(999, None)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    a = analytics.bootstrap_mean_ci(df, "value", "event_id", 16).collect()[0]
    b = analytics.bootstrap_mean_ci(df, "value", "event_id", 16).collect()[0]
    assert a == b                       # hash-driven: bit-reproducible
    assert a["n_rows"] == 200 and a["n_replicates"] == 16
    assert a["ci_lo"] <= a["mean"] <= a["ci_hi"]
    # constant data: every replicate mean equals the mean, zero-width CI
    const = spark.createDataFrame(
        [(i, 7.0) for i in range(50)], "event_id long, value double"
    )
    c = analytics.bootstrap_mean_ci(const, "value", "event_id", 8).collect()[0]
    assert c["ci_lo"] == c["ci_hi"] == c["mean"] == 7.0 and c["se_reps"] == 0.0


def test_label_diversity_closed_form(spark):
    from nsdb_spark.operators import similarity

    rows = [
        (0, [1.0, 0.0], 0), (1, [2.0, 0.0], 0),     # parallel: cos 1
        (2, [1.0, 0.0], 1), (3, [0.0, 3.0], 1),     # orthogonal: cos 0
        (4, [5.0, 5.0], 2),                          # singleton: NULL
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {r["label"]: r for r in similarity.label_diversity(df).collect()}
    assert got[0]["mean_pairwise_cos"] == 1.0 and got[0]["n_vecs"] == 2
    assert got[1]["mean_pairwise_cos"] == 0.0
    assert got[2]["mean_pairwise_cos"] is None and got[2]["n_vecs"] == 1


def test_seasonal_anomalies_flags_only_the_break(spark):
    from nsdb_spark.operators import tsa

    # period 2, bucket 1: a clean alternating series (10/20) with ONE
    # wild break at ts=10 — after de-seasonalizing, only the break has a
    # large residual; a raw z-score would have flagged every other row
    rows = [(i, "k", i, 10.0 if i % 2 == 0 else 20.0) for i in range(10)]
    rows.append((10, "k", 10, 500.0))   # even slot, expected ~10
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, timestamp long, value double"
    )
    out = tsa.seasonal_anomalies(
        df, period_ms=2, bucket_ms=1, z=2.0, key="event_type"
    ).collect()
    assert [r["event_id"] for r in out] == [10]
    assert out[0]["z_score"] > 2.0 and out[0]["value"] == 500.0


def test_seasonal_anomalies_single_exchange_plan(spark):
    import re

    from nsdb_spark.operators import tsa

    df = spark.createDataFrame(
        [(i, "k", i, float(i)) for i in range(8)],
        "event_id long, event_type string, timestamp long, value double",
    )
    plan = (
        tsa.seasonal_anomalies(df, period_ms=2, bucket_ms=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the __anchor window trick: all three window aggregates ride ONE
    # hash exchange on the key (regression guard for the 2-exchange plan)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_lm_bigram_logprob_known_corpus(spark):
    import math

    from nsdb_spark.operators import text

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "b a"), (2, "c"), (3, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           text.lm_bigram_logprob(docs, lam=0.8).collect()}
    # corpus: unigrams a:3 b:3 c:1 (T=7); bigrams "a b":2, "b a":2
    T = 7.0
    def score(w1n, bi, w2n):
        return math.log(0.8 * (bi / w1n) + 0.2 * (w2n / T))
    d0 = (score(3, 2, 3) + score(3, 2, 3) + score(3, 2, 3)) / 3  # ab, ba, ab
    assert out[0]["n_trans"] == 3 and out[0]["avg_logp"] == round(d0, 3)
    d1 = score(3, 2, 3)
    assert out[1]["n_trans"] == 1 and out[1]["avg_logp"] == round(d1, 3)
    # single-word and NULL docs have no transitions and drop
    assert 2 not in out and 3 not in out
    # order sensitivity: shuffling words changes the bigram score even
    # though the unigram distribution is identical
    shuffled = spark.createDataFrame(
        [(0, "a a b b")], "doc_id long, text string"
    )
    base = spark.createDataFrame(
        [(0, "a b a b")], "doc_id long, text string"
    )
    union = base.union(shuffled.withColumn("doc_id", shuffled.doc_id + 1))
    res = {r["doc_id"]: r["avg_logp"]
           for r in text.lm_bigram_logprob(union, lam=0.8).collect()}
    assert res[0] != res[1]


def test_embedding_srp_join_cross_corpus(spark):
    from nsdb_spark.operators import dedup

    # right 100 is (nearly) identical to left 0; right 101 is orthogonal
    left = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    right = spark.createDataFrame(
        [(100, [0.99, 0.01, 0.0]), (101, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = dedup.embedding_srp_join(left, right, threshold=0.9).collect()
    assert [(r["left_id"], r["right_id"]) for r in out] == [(0, 100)]
    assert out[0]["cosine"] > 0.99
    # dim mismatch is an error, not silent truncation
    import pytest

    bad = spark.createDataFrame(
        [(7, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dims differ"):
        dedup.embedding_srp_join(left, bad)


def test_ht_estimate_consistent_with_weighted_sample(spark):
    from nsdb_spark.operators import sampling

    rows = [(i, float(i % 100) + 1.0) for i in range(2000)]
    rows += [(9001, None), (9002, 0.0)]   # NULL excluded; w=0 uncovered
    df = spark.createDataFrame(rows, "event_id long, value double")
    df = df.withColumn("weight", df.value / 100.0)
    got = sampling.ht_estimate(df, "event_id", "value", "weight").collect()[0]
    # n_sampled must equal the actual hash_weighted_sample membership
    n_kept = sampling.hash_weighted_sample(
        df.filter("value is not null"), "event_id", "weight"
    ).count()
    assert got["n_sampled"] == n_kept
    assert got["n_total"] == 2001           # NULL value dropped
    assert got["n_covered"] == 2000         # w=0 row uncovered
    # weights ~ U(0.01, 1): the HT estimate should land near the truth
    assert abs(got["rel_err"]) < 0.05
    # the only uncovered row carries value 0.0, so the totals coincide
    assert got["true_sum"] == got["covered_sum"]


def test_winsorize_by_group_clips_exact_percentiles(spark):
    from nsdb_spark.operators import analytics

    # 0..100 in one group: p05 = 5.0, p95 = 95.0 exactly
    rows = [(i, "g", float(i)) for i in range(101)]
    rows.append((999, "g", None))
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = {r["event_id"]: r for r in analytics.winsorize_by_group(
        df, "event_type", "value", 0.05, 0.95).collect()}
    assert out[0]["lo"] == 5.0 and out[0]["hi"] == 95.0
    assert out[0]["clipped"] == 5.0 and out[0]["was_clipped"] is True
    assert out[100]["clipped"] == 95.0 and out[100]["was_clipped"] is True
    assert out[50]["clipped"] == 50.0 and out[50]["was_clipped"] is False
    # NULL value passes through unclipped with NULL flags
    assert out[999]["clipped"] is None and out[999]["was_clipped"] is None
    import pytest

    with pytest.raises(ValueError, match="lo_p"):
        analytics.winsorize_by_group(df, "event_type", "value", 0.9, 0.1)


def test_funnel_within_window_drops_late_steps(spark):
    from nsdb_spark.operators import analytics

    rows = [
        (1, "signup", 100), (1, "click", 150), (1, "purchase", 160),
        (2, "signup", 100), (2, "click", 500),     # click too late
        (3, "signup", 100), (3, "click", 150), (3, "purchase", 900),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, timestamp long"
    )
    out = {r["user_id"]: r for r in analytics.funnel(
        df, ["signup", "click", "purchase"], within_ms=100).collect()}
    assert out[1]["ts_click"] == 150 and out[1]["ts_purchase"] == 160
    assert out[2]["ts_click"] is None and out[2]["ts_purchase"] is None
    # user 3 converts the click but the purchase is outside click+100
    assert out[3]["ts_click"] == 150 and out[3]["ts_purchase"] is None
    # unwindowed behavior unchanged: everyone converts eventually
    loose = {r["user_id"]: r for r in analytics.funnel(
        df, ["signup", "click", "purchase"]).collect()}
    assert loose[2]["ts_click"] == 500 and loose[3]["ts_purchase"] == 900


def test_benford_digit_audit_known_distribution(spark):
    import math

    from nsdb_spark.operators import analytics

    # 1..9 once each (uniform digits), plus excluded junk
    rows = [(i, float(i)) for i in range(1, 10)]
    rows += [(100, 0.0), (101, -5.0), (102, None)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    out = {r["digit"]: r for r in
           analytics.benford_digit_audit(df, "value").collect()}
    assert set(out) == set(range(1, 10))
    for d in range(1, 10):
        assert out[d]["n"] == 1
        assert out[d]["observed_p"] == round(1 / 9, 6)
        assert out[d]["expected_p"] == round(math.log10(1 + 1 / d), 6)
    # leading digit survives magnitude: 0.02, 23.0, 2300.0 are all '2'
    df2 = spark.createDataFrame(
        [(1, 0.02), (2, 23.0), (3, 2300.0)], "event_id long, value double"
    )
    got = analytics.benford_digit_audit(df2, "value").collect()
    assert [(r["digit"], r["n"]) for r in got] == [(2, 3)]


def test_stickiness_ratio_and_gap_bucket(spark):
    from nsdb_spark.operators import analytics

    # bucket=10ms; users 1,2 active in bucket 0; user 1 again in bucket 2;
    # bucket 1 is a gap (dau 0) inside the live 3-bucket window
    rows = [(1, 5), (2, 7), (1, 25)]
    df = spark.createDataFrame(rows, "user_id long, timestamp long")
    out = {r["bucket_start"]: r for r in analytics.stickiness(
        df, bucket_ms=10, window_buckets=3).collect()}
    assert out[0]["dau"] == 2 and out[0]["mau"] == 2
    assert out[0]["stickiness"] == 1.0
    assert out[10]["dau"] == 0 and out[10]["mau"] == 2
    assert out[10]["stickiness"] == 0.0
    # bucket 2: user 1 active today; window still holds both users
    assert out[20]["dau"] == 1 and out[20]["mau"] == 2
    assert out[20]["stickiness"] == 0.5


def test_basket_pair_lift_metrics(spark):
    from nsdb_spark.operators import analytics

    # 4 baskets: {a,b} x3, {a,c} x1 — pair (a,b) support 3/4,
    # conf P(b|a) = 3/4, lift = (3/4)/((4/4)*(3/4)) = 1.0
    rows = [
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"),
        (4, "a"), (4, "c"),
        (4, "c"),  # duplicate presence must not double-count
    ]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = {(r["item_a"], r["item_b"]): r for r in
           analytics.basket_pair_lift(df, "basket", "item", min_pairs=2).collect()}
    assert set(out) == {("a", "b")}  # (a,c) has 1 pair < min_pairs
    r = out[("a", "b")]
    assert r["n_pairs"] == 3
    assert r["support"] == 0.75
    assert r["confidence"] == 0.75
    assert r["lift"] == 1.0


def test_linreg_by_group_exact_line_and_degenerate(spark):
    from nsdb_spark.operators import analytics

    # group g: exact y = 2x + 1 (r2 = 1); group h: constant x -> NULLs
    rows = [("g", 1.0, 3.0), ("g", 2.0, 5.0), ("g", 3.0, 7.0),
            ("h", 4.0, 1.0), ("h", 4.0, 2.0), ("g", None, 9.0)]
    df = spark.createDataFrame(rows, "p string, x double, y double")
    out = {r["p"]: r for r in
           analytics.linreg_by_group(df, "p", "x", "y").collect()}
    assert out["g"]["n"] == 3  # NULL x row excluded
    assert out["g"]["slope"] == 2.0
    assert out["g"]["intercept"] == 1.0
    assert out["g"]["r2"] == 1.0
    assert out["h"]["slope"] is None and out["h"]["r2"] is None


def test_order_gaps_lag_and_ties(spark):
    from nsdb_spark.operators import analytics

    rows = [(1, 10, 100), (1, 11, 150), (1, 12, 150), (2, 20, 99)]
    df = spark.createDataFrame(rows, "k long, id long, s long")
    out = {r["id"]: r for r in
           analytics.order_gaps(df, "k", "s", "id").collect()}
    assert out[10]["prev_seq"] is None and out[10]["gap"] is None
    assert out[10]["rn"] == 1
    assert out[11]["gap"] == 50 and out[11]["rn"] == 2
    # tie on s breaks by id: 12 follows 11, gap 0
    assert out[12]["gap"] == 0 and out[12]["rn"] == 3
    assert out[20]["rn"] == 1


def test_degree_distribution_histogram(spark):
    from nsdb_spark.operators import graph

    # path a-b-c plus duplicate + reversed + self-loop noise:
    # degrees: a=1, b=2, c=1 -> hist {1: 2, 2: 1}
    rows = [(1, 2), (2, 1), (2, 3), (2, 3), (5, 5)]
    df = spark.createDataFrame(rows, "src long, dst long")
    out = {r["degree"]: r for r in graph.degree_distribution(df).collect()}
    assert out[1]["n_nodes"] == 2 and out[2]["n_nodes"] == 1
    assert out[1]["pct_nodes"] == round(2 / 3, 6)


def test_gopher_rule_flags_gates(spark):
    from nsdb_spark.operators import text

    good = "the quick brown fox jumps over the lazy dog again " * 2
    short = "too short"
    dup = "word word word word word word word word word word word word"
    df = spark.createDataFrame(
        [(1, good.strip()), (2, short), (3, dup)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.gopher_rule_flags(df).collect()}
    assert out[1]["passes"] is True
    assert out[2]["ok_words"] is False and out[2]["passes"] is False
    # 12 copies of one word: dup_frac 11/12 > 0.6
    assert out[3]["ok_dup"] is False and out[3]["passes"] is False
    assert out[3]["n_words"] == 12


def test_changepoint_single_mean_shift(spark):
    from nsdb_spark.operators import tsa

    rows = [("a", t, t, 0.0 if t <= 3 else 10.0) for t in range(1, 7)]
    rows += [("b", 1, 1, 5.0)]          # n < 2: no valid split, drops
    rows += [("c", 1, 1, 2.0), ("c", 2, 2, None), ("c", 3, 3, 2.0)]
    df = spark.createDataFrame(
        rows, "event_type string, timestamp long, event_id long, value double"
    )
    out = {r["event_type"]: r for r in
           tsa.changepoint_single(df, scale=100).collect()}
    assert "b" not in out
    a = out["a"]
    assert a["n"] == 6 and a["split_rn"] == 3 and a["split_ts"] == 3
    assert a["mean_left"] == 0.0 and a["mean_right"] == 10.0
    # R = 3*(0-5)^2 + 3*(10-5)^2 = 150
    assert a["score"] == 150.0
    # constant series: every split scores 0; tie -> earliest split
    c = out["c"]
    assert c["n"] == 2 and c["split_rn"] == 1 and c["score"] == 0.0


def test_gini_by_group_known_values(spark):
    from nsdb_spark.operators import analytics

    rows = [("eq", float(v)) for v in (3, 3, 3, 3)]
    rows += [("con", 0.0), ("con", 0.0), ("con", 0.0), ("con", 4.0)]
    rows += [("skip", None), (None, 1.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in
           analytics.gini_by_group(df, "g", "v").collect()}
    assert set(out) == {"eq", "con"}   # all-NULL group drops
    assert out["eq"]["gini"] == 0.0 and out["eq"]["mean_value"] == 3.0
    # [0,0,0,4]: G = 2*16/(4*4) - 5/4 = 0.75
    assert out["con"]["gini"] == 0.75 and out["con"]["n"] == 4


def test_mmr_topk_diversifies_against_redundant_shortlist(spark):
    from nsdb_spark.operators import similarity

    # query (1,0); a and b are near-duplicates of each other (both rel
    # .99), c is diverse but less relevant. Low lambda should pick c
    # second even though b outranks it on pure relevance.
    rows = [
        (1, [0.99, 0.141]),
        (2, [0.99, -0.141]),
        (3, [0.6, 0.8]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.mmr_topk(
        df, [1.0, 0.0], k=2, shortlist=3, lam=0.3
    ).collect()
    assert [r["rank"] for r in out] == [1, 2]
    assert out[0]["vec_id"] == 1          # rel tie with 2 -> smaller id
    assert out[0]["mmr_score"] == round(0.3 * out[0]["relevance"], 6)
    assert out[1]["vec_id"] == 3          # diversity beats the near-dup
    # high lambda reverts to pure relevance order
    rel = similarity.mmr_topk(
        df, [1.0, 0.0], k=2, shortlist=3, lam=1.0
    ).collect()
    assert [r["vec_id"] for r in rel] == [1, 2]


def test_knn_label_vote_flags_mislabels(spark):
    from nsdb_spark.operators import similarity

    rows = [
        (1, [1.0, 0.0], "A"),
        (2, [1.0, 0.0], "A"),
        (3, [1.0, 0.0], "B"),   # sits in the A cluster: mislabel
        (4, [0.0, 1.0], "B"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = {r["vec_id"]: r for r in
           similarity.knn_label_vote(df, k=2).collect()}
    assert out[3]["pred_label"] == "A" and out[3]["agree"] is False
    assert out[3]["n_votes"] == 2
    # vec 1's top-2 are {2 (A), 3 (B)}: 1-1 vote, tie -> label asc = A
    assert out[1]["pred_label"] == "A" and out[1]["agree"] is True


def test_salted_join_identical_to_plain_join(spark):
    from nsdb_spark.operators import skew

    fact = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)],
        "event_id long, k long, v double",
    )
    dim = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (9, "unmatched")],
        "k long, name string",
    )
    got = sorted(
        skew.salted_join(fact, dim, "k", salt_buckets=4, salt_on="event_id")
        .select("event_id", "k", "v", "name").collect()
    )
    want = sorted(fact.join(dim, "k").select("event_id", "k", "v", "name").collect())
    assert got == want
    assert len(got) == 30  # every fact row matched exactly once


def test_rfm_segments_scores(spark):
    from nsdb_spark.operators import analytics

    # 5 customers, clearly separated R/F/M profiles; now = 1000
    rows = []
    for c in range(5):
        # customer c: last order at 1000 - 100*c; c+1 orders of 10*(c+1)
        for j in range(c + 1):
            rows.append((c, 1000 - 100 * c - j, 10.0 * (c + 1)))
    df = spark.createDataFrame(rows, "cust long, ts long, amt double")
    out = {r["cust"]: r for r in analytics.rfm_segments(
        df, "cust", "ts", "amt", now_ms=1000, nseg=5).collect()}
    # customer 0: most recent (r=5), least frequent (f=1), lowest spend (m=1)
    assert out[0]["r_score"] == 5 and out[0]["f_score"] == 1
    assert out[0]["m_score"] == 1 and out[0]["rfm"] == 511
    # customer 4: stalest, most frequent, highest spend
    assert out[4]["r_score"] == 1 and out[4]["f_score"] == 5
    assert out[4]["m_score"] == 5 and out[4]["rfm"] == 155
    assert out[4]["frequency"] == 5 and out[4]["monetary"] == 250.0
    assert out[0]["recency_ms"] == 0 and out[4]["recency_ms"] == 400


def test_rolling_quantiles_window(spark):
    from nsdb_spark.operators import tsa

    rows = [(1, t, t, float(v)) for t, v in
            enumerate([10, 20, 30, 1000, 40, 50])]
    df = spark.createDataFrame(
        rows, "user_id long, timestamp long, event_id long, value double"
    )
    out = {r["timestamp"]: r for r in
           tsa.rolling_quantiles(df, n=2).collect()}
    assert out[0]["roll_p50"] == 10.0          # frame = [10]
    assert out[1]["roll_p50"] == 15.0          # [10,20]
    assert out[2]["roll_p50"] == 20.0          # [10,20,30]
    # the 1000 spike: rolling MEDIAN stays at the middle value
    assert out[3]["roll_p50"] == 30.0          # [20,30,1000]
    assert out[4]["roll_p50"] == 40.0          # [30,1000,40]
    assert out[3]["roll_p90"] == 806.0         # interp toward the spike


def test_common_neighbor_similarity_jaccard(spark):
    from nsdb_spark.operators import graph

    # suppliers 1,2 share customers {10, 11}; supplier 3 only sees 10
    rows = [(1, 10), (1, 11), (1, 12), (2, 10), (2, 11), (3, 10),
            (1, 10)]  # duplicate edge must not double-count
    df = spark.createDataFrame(rows, "src long, dst long")
    out = {(r["node_a"], r["node_b"]): r for r in
           graph.common_neighbor_similarity(df, min_common=1).collect()}
    r12 = out[(1, 2)]
    assert r12["n_common"] == 2
    # deg(1)=3, deg(2)=2: jaccard = 2/(3+2-2)
    assert r12["jaccard"] == round(2 / 3, 6)
    assert out[(1, 3)]["n_common"] == 1 and out[(2, 3)]["n_common"] == 1
    # min_common cut
    cut = {(r["node_a"], r["node_b"]) for r in
           graph.common_neighbor_similarity(df, min_common=2).collect()}
    assert cut == {(1, 2)}


def test_welch_anova_zero_and_positive_f(spark):
    from nsdb_spark.operators import analytics

    # identical group means -> F = 0 exactly
    rows = [("a", v) for v in (1.0, 2.0, 3.0)] + \
           [("b", v) for v in (1.0, 2.0, 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = analytics.welch_anova(df, "v", "g").collect()[0]
    assert r["f_stat"] == 0.0 and r["k"] == 2 and r["n_total"] == 6
    # constant group (zero variance) drops from k
    rows += [("c", 5.0), ("c", 5.0)]
    df2 = spark.createDataFrame(rows, "g string, v double")
    r2 = analytics.welch_anova(df2, "v", "g").collect()[0]
    assert r2["k"] == 2
    # a separated third group -> F > 0, matches the pure-Python formula
    rows3 = rows[:6] + [("c", 10.0), ("c", 11.0), ("c", 12.0)]
    df3 = spark.createDataFrame(rows3, "g string, v double")
    r3 = analytics.welch_anova(df3, "v", "g").collect()[0]
    groups = {"a": [1, 2, 3], "b": [1, 2, 3], "c": [10, 11, 12]}
    import statistics as st
    ms = {g: st.mean(v) for g, v in groups.items()}
    vs = {g: st.variance(v) for g, v in groups.items()}
    ws = {g: len(v) / vs[g] for g, v in groups.items()}
    sw = sum(ws.values())
    mw = sum(ws[g] * ms[g] for g in groups) / sw
    k = 3
    num = sum(ws[g] * (ms[g] - mw) ** 2 for g in groups) / (k - 1)
    sh = sum((1 - ws[g] / sw) ** 2 / (len(v) - 1) for g, v in groups.items())
    want = num / (1 + 2 * (k - 2) / (k * k - 1) * sh)
    assert abs(r3["f_stat"] - want) < 1e-4
    assert abs(r3["dof2"] - (k * k - 1) / (3 * sh)) < 1e-2 + 1e-9


def test_centroid_drift_known_halves(spark):
    from nsdb_spark.operators import similarity

    rows = [
        # label "x": even ids point at e1, odd ids at e2 -> drift cos 0
        (0, [1.0, 0.0], "x"), (2, [1.0, 0.0], "x"),
        (1, [0.0, 1.0], "x"), (3, [0.0, 1.0], "x"),
        # label "y": both halves identical -> cos 1
        (4, [3.0, 4.0], "y"), (5, [3.0, 4.0], "y"),
        # label "z": only one half present -> drops
        (6, [1.0, 1.0], "z"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = {r["label"]: r for r in similarity.centroid_drift(df).collect()}
    assert set(out) == {"x", "y"}
    assert out["x"]["cos_drift"] == 0.0
    assert out["x"]["n_even"] == 2 and out["x"]["n_odd"] == 2
    assert out["y"]["cos_drift"] == 1.0
    assert out["y"]["norm_even"] == 5.0


def test_spearman_perfect_monotone_and_ties(spark):
    from nsdb_spark.operators import analytics

    # strictly monotone (nonlinear) relation -> rho = 1 exactly
    rows = [(float(i), float(i * i)) for i in range(1, 20)]
    df = spark.createDataFrame(rows, "x double, y double")
    r = analytics.spearman_corr(df, "x", "y").collect()[0]
    assert r["spearman_rho"] == 1.0 and r["n"] == 19
    # reversed -> rho = -1
    df2 = spark.createDataFrame(
        [(x, -y) for x, y in rows], "x double, y double"
    )
    assert analytics.spearman_corr(df2, "x", "y").collect()[0][
        "spearman_rho"] == -1.0
    # ties + NULLs: match scipy-convention midrank formula computed by hand
    rows3 = [(1.0, 2.0), (1.0, 1.0), (2.0, 3.0), (None, 9.0), (3.0, None)]
    df3 = spark.createDataFrame(rows3, "x double, y double")
    r3 = analytics.spearman_corr(df3, "x", "y").collect()[0]
    # ranks x: [1.5, 1.5, 3], y: [2, 1, 3]; centered dot products:
    # dx=[-.5,-.5,1], dy=[0,-1,1] -> sxy=1.5, sxx=1.5, syy=2
    import math
    assert r3["n"] == 3
    assert r3["spearman_rho"] == round(1.5 / math.sqrt(1.5 * 2), 6)


def test_mutual_information_independent_and_determined(spark):
    from nsdb_spark.operators import analytics
    import math

    # independent 2x2 uniform -> MI = 0, NMI = 0
    rows = [(a, b) for a in "xy" for b in "uv" for _ in range(5)]
    df = spark.createDataFrame(rows, "a string, b string")
    r = analytics.mutual_information(df, "a", "b").collect()[0]
    assert r["mi_nats"] == 0.0 and r["nmi"] == 0.0 and r["n"] == 20
    assert r["h_x"] == round(math.log(2), 6) == r["h_y"]
    # y fully determined by x -> MI = H(x) = H(y), NMI = 1
    rows2 = [("x", "u")] * 3 + [("y", "v")] * 7
    df2 = spark.createDataFrame(rows2, "a string, b string")
    r2 = analytics.mutual_information(df2, "a", "b").collect()[0]
    h = -(0.3 * math.log(0.3) + 0.7 * math.log(0.7))
    assert r2["mi_nats"] == round(h, 6) and r2["nmi"] == 1.0
    # degenerate single-category column -> MI 0, NMI 0 (not NULL/NaN)
    df3 = spark.createDataFrame(
        [("x", "u"), ("x", "v")], "a string, b string"
    )
    r3 = analytics.mutual_information(df3, "a", "b").collect()[0]
    assert r3["mi_nats"] == 0.0 and r3["nmi"] == 0.0 and r3["h_x"] == 0.0


def test_adamic_adar_scores(spark):
    from nsdb_spark.operators import graph
    import math

    # dst 10 has degree 3 (shared by 1,2,3); dst 11 degree 2 (shared 1,2)
    rows = [(1, 10), (2, 10), (3, 10), (1, 11), (2, 11), (1, 11)]
    df = spark.createDataFrame(rows, "src long, dst long")
    out = {(r["node_a"], r["node_b"]): r for r in
           graph.adamic_adar(df, min_common=1).collect()}
    r12 = out[(1, 2)]
    assert r12["n_common"] == 2
    assert r12["aa_score"] == round(1 / math.log(3) + 1 / math.log(2), 6)
    # pairs sharing only the degree-3 hub score lower than the (1,2) pair
    assert out[(1, 3)]["aa_score"] == round(1 / math.log(3), 6)
    assert out[(2, 3)]["aa_score"] == round(1 / math.log(3), 6)
    # min_common cut keeps only (1,2)
    assert {(r["node_a"], r["node_b"]) for r in
            graph.adamic_adar(df, min_common=2).collect()} == {(1, 2)}


def test_periodogram_finds_planted_cycle(spark):
    from nsdb_spark.operators import tsa
    import math

    # plant a pure 1-hour cycle sampled every minute for 48 h: power at
    # the true period ~1, at an uncontained period ~0
    hour = 3_600_000
    rows = [
        ("m", i * 60_000, math.sin(2 * math.pi * i / 60))
        for i in range(48 * 60)
    ]
    df = spark.createDataFrame(rows, "k string, t long, x double")
    out = {r["period_ms"]: r["power_frac"] for r in tsa.periodogram(
        df, key="k", ts="t", value="x",
        periods_ms=(hour, 7 * hour)).collect()}
    assert out[hour] > 0.99
    assert out[7 * hour] < 0.05
    # constant series -> sst = 0 -> power 0, not NaN
    dfc = spark.createDataFrame(
        [("m", i * 60_000, 5.0) for i in range(100)],
        "k string, t long, x double")
    assert {r["power_frac"] for r in tsa.periodogram(
        dfc, "k", "t", "x", periods_ms=(hour,)).collect()} == {0.0}


def test_theil_sen_exact_and_outlier_resistant(spark):
    from nsdb_spark.operators import analytics

    # exact line -> slope recovered exactly, n_pairs = C(5,2)
    rows = [("a", float(i), 2.0 * i + 1) for i in range(5)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = analytics.theil_sen_by_group(df, "g", "x", "y").collect()[0]
    assert r["ts_slope"] == 2.0 and r["n_points"] == 5 and r["n_pairs"] == 10
    # one wild outlier point: OLS slope would blow up; TS median holds
    rows2 = rows + [("a", 5.0, 1000.0)]
    df2 = spark.createDataFrame(rows2, "g string, x double, y double")
    r2 = analytics.theil_sen_by_group(df2, "g", "x", "y").collect()[0]
    assert r2["ts_slope"] == 2.0
    # duplicate x never produces a pair (no div-by-zero slope)
    df3 = spark.createDataFrame(
        [("b", 1.0, 1.0), ("b", 1.0, 9.0), ("b", 2.0, 3.0)],
        "g string, x double, y double")
    r3 = analytics.theil_sen_by_group(df3, "g", "x", "y").collect()[0]
    assert r3["n_pairs"] == 2


def test_cramers_v_bounds(spark):
    from nsdb_spark.operators import analytics

    # perfect association on a square table -> V = 1
    rows = [("x", "u")] * 4 + [("y", "v")] * 6
    df = spark.createDataFrame(rows, "a string, b string")
    r = analytics.chi2_independence(df, "a", "b", effect_size=True).collect()[0]
    assert r["cramers_v"] == 1.0
    # independence -> V = 0
    rows2 = [(a, b) for a in "xy" for b in "uv" for _ in range(3)]
    df2 = spark.createDataFrame(rows2, "a string, b string")
    r2 = analytics.chi2_independence(df2, "a", "b", effect_size=True).collect()[0]
    assert r2["cramers_v"] == 0.0
    # single-category column -> V = 0 (not NULL / div error); plain call
    # keeps the original 3-column schema
    df3 = spark.createDataFrame([("x", "u"), ("x", "v")], "a string, b string")
    assert analytics.chi2_independence(df3, "a", "b", effect_size=True
        ).collect()[0]["cramers_v"] == 0.0
    assert analytics.chi2_independence(df2, "a", "b").columns == [
        "chi2", "dof", "n"]


def test_kendall_tau_exact_counts(spark):
    from nsdb_spark.operators import analytics
    import math

    # monotone -> tau = 1; reversed -> -1
    rows = [("a", float(i), float(i * 3)) for i in range(6)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = analytics.kendall_tau_by_group(df, "g", "x", "y").collect()[0]
    assert r["tau_b"] == 1.0 and r["concordant"] == 15 and r["discordant"] == 0
    # one inversion: swap y of last two points -> C=14, D=1
    rows2 = rows[:4] + [("a", 4.0, 15.0), ("a", 5.0, 12.0)]
    r2 = analytics.kendall_tau_by_group(
        spark.createDataFrame(rows2, "g string, x double, y double"),
        "g", "x", "y").collect()[0]
    assert (r2["concordant"], r2["discordant"]) == (14, 1)
    assert r2["tau_b"] == round(13 / 15, 6)
    # y-ties use the tau-b denominator: y = [1,1,2] -> C=2, D=0, ties=1
    rows3 = [("b", 1.0, 1.0), ("b", 2.0, 1.0), ("b", 3.0, 2.0)]
    r3 = analytics.kendall_tau_by_group(
        spark.createDataFrame(rows3, "g string, x double, y double"),
        "g", "x", "y").collect()[0]
    assert r3["tau_b"] == round(2 / math.sqrt(3 * 2), 6)
    # duplicate x violates the contract -> loud failure, not a skewed count
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    dup = spark.createDataFrame(
        [("c", 1.0, 1.0), ("c", 1.0, 2.0)], "g string, x double, y double")
    with _pytest.raises(Exception):
        analytics.kendall_tau_by_group(dup, "g", "x", "y").collect()


def test_cross_correlation_planted_lag(spark):
    from nsdb_spark.operators import tsa

    # series b leads a by exactly 2 buckets: a[t] = b[t-2]
    vals = [5.0, 1.0, 4.0, 9.0, 2.0, 8.0, 3.0, 7.0, 6.0, 0.0]
    rows = []
    for t, v in enumerate(vals):
        rows.append(("b", t * 1000, v))
        rows.append(("a", (t + 2) * 1000, v))
    df = spark.createDataFrame(rows, "k string, t long, v double")
    out = {r["lag"]: r for r in tsa.cross_correlation(
        df, key_a="a", key_b="b", key="k", ts="t", value="v",
        bucket_ms=1000, max_lag=3).collect()}
    assert out[2]["ccf"] == 1.0 and out[2]["n_buckets"] == 10
    assert all(out[l]["ccf"] < 1.0 for l in out if l != 2)
    # constant overlap -> ccf 0.0, never NaN
    dfc = spark.createDataFrame(
        [("a", t * 1000, 1.0) for t in range(5)]
        + [("b", t * 1000, float(t)) for t in range(5)],
        "k string, t long, v double")
    assert {r["ccf"] for r in tsa.cross_correlation(
        dfc, "a", "b", key="k", ts="t", value="v", bucket_ms=1000,
        max_lag=1).collect()} == {0.0}


def test_vocab_stats_ttr_and_hapax(spark):
    from nsdb_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, "a b b c", "s1"),     # vocab {a,b,c}, total 4, hapax {a,c}
            (2, "c d", "s1"),         # s1 now: a1 b2 c2 d1 -> hapax {a,d}
            (3, "x x x", "s2"),       # s2: vocab 1, total 3, hapax 0
            (4, None, "s1"),          # NULL text drops
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in
           text.vocab_stats_by_group(docs, group="source").collect()}
    s1 = out["s1"]
    assert (s1["vocab"], s1["total_tokens"], s1["hapax"]) == (4, 6, 2)
    assert s1["ttr"] == round(4 / 6, 6) and s1["hapax_frac"] == 0.5
    s2 = out["s2"]
    assert (s2["vocab"], s2["total_tokens"], s2["hapax"]) == (1, 3, 0)
    assert s2["ttr"] == round(1 / 3, 6) and s2["hapax_frac"] == 0.0


def test_midrank_pct_ties_and_bounds(spark):
    from nsdb_spark.operators import analytics

    # values [10, 20, 20, 40]: midranks [1, 2.5, 2.5, 4] -> /4
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 20), (4, 40)], "id long, v long"
    )
    out = {r["id"]: r["pct_rank"] for r in
           analytics.midrank_pct(df, "id", "v").collect()}
    assert out == {1: 0.25, 2: 0.625, 3: 0.625, 4: 1.0}
    # empty input raises (not a silent empty frame)
    import pytest as _pytest
    empty = spark.createDataFrame([], "id long, v long")
    with _pytest.raises(ValueError):
        analytics.midrank_pct(empty, "id", "v")


def test_silhouette_separated_clusters(spark):
    from nsdb_spark.operators import clustering

    # two tight, far-apart blobs: silhouette near 1 for both cells
    rows = [(i, [0.0 + 0.01 * i, 0.0]) for i in range(4)] + \
           [(10 + i, [100.0 + 0.01 * i, 0.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = clustering.silhouette_by_cell(df, k=2, iters=3).collect()
    assert len(out) == 2 and sum(r["n_vecs"] for r in out) == 8
    assert all(r["avg_silhouette"] > 0.99 for r in out)
    # k < 2 is a contract violation
    import pytest as _pytest
    with _pytest.raises(ValueError):
        clustering.silhouette_by_cell(df, k=1)


def test_partial_corr_removes_confounder(spark):
    from nsdb_spark.operators import analytics

    # x and y both driven ONLY by z (plus distinct deterministic noise):
    # raw r_xy is strongly positive, partial r_xy.z collapses toward 0
    rows = []
    for i in range(200):
        z = float(i % 40)
        nx = ((i * 37) % 17) / 17.0
        ny = ((i * 53) % 19) / 19.0
        rows.append((z + nx, z + ny, z))
    df = spark.createDataFrame(rows, "x double, y double, z double")
    r = analytics.partial_corr(df, "x", "y", "z").collect()[0]
    assert r["r_xy"] > 0.9
    assert abs(r["partial_r"]) < 0.2
    assert r["n"] == 200
    # constant column -> NULL r's and partial, not a crash
    dfc = spark.createDataFrame(
        [(1.0, 2.0, 5.0), (2.0, 3.0, 5.0)], "x double, y double, z double")
    rc = analytics.partial_corr(dfc, "x", "y", "z").collect()[0]
    assert rc["r_xz"] is None and rc["partial_r"] is None


def test_lorenz_deciles_uniform_and_concentrated(spark):
    from nsdb_spark.operators import analytics

    # 10 equal values -> every decile holds exactly 10% and cum is linear
    df = spark.createDataFrame([(100.0,)] * 10, "v double")
    out = analytics.lorenz_deciles(df, "v").collect()
    # all ties -> same midrank -> single decile bucket holding everything
    assert len(out) == 1 and out[0]["cum_share"] == 1.0
    # strictly increasing values -> bottom decile share < top decile share
    df2 = spark.createDataFrame([(float(2 ** i),) for i in range(20)], "v double")
    rows = {r["decile"]: r for r in analytics.lorenz_deciles(df2, "v").collect()}
    assert rows[1]["value_share"] < rows[10]["value_share"]
    assert rows[10]["cum_share"] == 1.0
    assert sum(r["n_rows"] for r in rows.values()) == 20
    # monotone cumulative
    cums = [rows[d]["cum_share"] for d in sorted(rows)]
    assert cums == sorted(cums)


def test_hits_bipartite_hub_authority(spark):
    from nsdb_spark.operators import graph

    # star: supplier 1 serves customers 10,11,12; supplier 2 only 10.
    # hub(1) > hub(2); authority(10) > authority(11) (extra in-edge)
    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 10)], "src long, dst long")
    out = {(r["role"], r["node"]): r["score"]
           for r in graph.hits_scores(edges, iters=3).collect()}
    assert out[("hub", 1)] > out[("hub", 2)]
    assert out[("authority", 10)] > out[("authority", 11)]
    assert out[("authority", 11)] == out[("authority", 12)]
    # L2 norms ~1 per role after the final snap
    h2 = sum(v * v for (r, _), v in out.items() if r == "hub")
    a2 = sum(v * v for (r, _), v in out.items() if r == "authority")
    assert abs(h2 - 1.0) < 1e-4 and abs(a2 - 1.0) < 1e-4
    import pytest as _pytest
    with _pytest.raises(ValueError):
        graph.hits_scores(
            spark.createDataFrame([], "src long, dst long"))


def test_asof_join_forward_direction(spark):
    from nsdb_spark.operators import temporal_join

    left = spark.createDataFrame(
        [(1, 100, "e1"), (1, 250, "e2"), (1, 400, "e3"), (2, 50, "e4")],
        "k long, t long, name string")
    right = spark.createDataFrame(
        [(1, 100, 10.0), (1, 300, 30.0), (2, 40, 4.0)],
        "k long, rt long, v double")
    out = {r["name"]: r for r in temporal_join.asof_join(
        left, right, on=("k", "k"), ts=("t", "rt"), payload=["v"],
        direction="forward").collect()}
    # inclusive: right at exactly t matches; else the NEXT right row
    assert out["e1"]["asof_v"] == 10.0     # rt=100 == t=100
    assert out["e2"]["asof_v"] == 30.0     # next is rt=300
    assert out["e3"]["asof_v"] is None     # nothing after 400
    assert out["e4"]["asof_v"] is None     # rt=40 is BEFORE, not after
    # backward on the same data for contrast
    back = {r["name"]: r for r in temporal_join.asof_join(
        left, right, on=("k", "k"), ts=("t", "rt"), payload=["v"],
        direction="backward").collect()}
    assert back["e2"]["asof_v"] == 10.0 and back["e4"]["asof_v"] == 4.0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        temporal_join.asof_join(
            left, right, on=("k", "k"), ts=("t", "rt"), payload=["v"],
            direction="nearest")


def test_zipf_slope_exact_power_law(spark):
    from nsdb_spark.operators import text

    # corpus where token t_r appears round(1000 * r^-1) times -> slope
    # very near -1 and r2 near 1 on the log-log fit
    docs = []
    did = 0
    for r in range(1, 21):
        n = round(1000 * r ** -1.0)
        word = f"w{r:02d}"
        docs.append((did, " ".join([word] * n)))
        did += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = text.zipf_slope(df, top_n=20).collect()[0]
    assert out["n_tokens"] == 20
    assert -1.05 < out["zipf_slope"] < -0.95
    assert out["r2"] > 0.999
    # uniform counts -> slope 0
    df2 = spark.createDataFrame(
        [(i, " ".join([f"u{i}"] * 5)) for i in range(10)],
        "doc_id long, text string")
    assert text.zipf_slope(df2, top_n=10).collect()[0]["zipf_slope"] == 0.0


def test_cohens_d_known_values(spark):
    from nsdb_spark.operators import analytics
    import statistics as st

    a_vals = [1.0, 2.0, 3.0, 4.0]
    b_vals = [3.0, 4.0, 5.0, 6.0]
    rows = [("a", v) for v in a_vals] + [("b", v) for v in b_vals] + \
           [("c", 99.0)]  # other groups excluded
    df = spark.createDataFrame(rows, "g string, v double")
    r = analytics.cohens_d(df, "v", "g", "a", "b").collect()[0]
    sp = ((3 * st.variance(a_vals) + 3 * st.variance(b_vals)) / 6) ** 0.5
    assert r["cohens_d"] == round((2.5 - 4.5) / sp, 6)
    assert (r["n_a"], r["n_b"]) == (4, 4)
    # zero-variance pooled sd -> NULL d, not a crash
    dfz = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 1.0)],
        "g string, v double")
    assert analytics.cohens_d(dfz, "v", "g", "a", "b").collect()[0][
        "cohens_d"] is None


def test_cosine_topk_filtered_excludes(spark):
    from nsdb_spark.operators import similarity

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.99, 0.1]), (2, [0.98, 0.2]),
         (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    q = [1.0, 0.0]
    # unfiltered: 1 then 2 lead (besides the query itself)
    allowed_all = spark.createDataFrame([(i,) for i in range(4)], "id long")
    top = similarity.cosine_topk_filtered(emb, allowed_all, q, k=2).collect()
    assert [r["vec_id"] for r in top] == [0, 1]
    # filter out the best matches: ranking recomputes within the allowlist
    allowed = spark.createDataFrame([(2,), (3,)], "id long")
    top2 = similarity.cosine_topk_filtered(emb, allowed, q, k=2).collect()
    assert [r["vec_id"] for r in top2] == [2, 3]
    # filter smaller than k: returns what qualifies, never pads
    one = spark.createDataFrame([(3,)], "id long")
    assert [r["vec_id"] for r in
            similarity.cosine_topk_filtered(emb, one, q, k=5).collect()] == [3]


def test_interval_concurrency_peak_and_ties(spark):
    from nsdb_spark.operators import temporal_join

    # [0,10], [5,20], [15,30]: peak 2 first reached at t=5
    df = spark.createDataFrame(
        [(0, 10), (5, 20), (15, 30)], "s long, e long")
    r = temporal_join.interval_concurrency(df, "s", "e").collect()[0]
    assert (r["peak_concurrent"], r["at_ts"], r["n_intervals"]) == (2, 5, 3)
    # inclusive ends: [0,5] and [5,9] overlap AT t=5
    df2 = spark.createDataFrame([(0, 5), (5, 9)], "s long, e long")
    r2 = temporal_join.interval_concurrency(df2, "s", "e").collect()[0]
    assert (r2["peak_concurrent"], r2["at_ts"]) == (2, 5)
    # empty input raises
    import pytest as _pytest
    empty = spark.createDataFrame([], "s long, e long")
    with _pytest.raises(ValueError):
        temporal_join.interval_concurrency(empty, "s", "e")


def test_select_token_budget_class_prefix(spark):
    from nsdb_spark.operators import selection

    # classes q=3 (20 tok), q=2 (30 tok), q=1 (50 tok); budget 55 keeps
    # q=3 and q=2 fully (50 <= 55), q=1 would hit 100
    rows = [(1, 3, 20), (2, 2, 10), (3, 2, 20), (4, 1, 50)]
    df = spark.createDataFrame(rows, "doc_id long, q long, tok long")
    out = selection.select_token_budget(df, "q", "tok", budget=55)
    got = {r["doc_id"] for r in out.collect()}
    assert got == {1, 2, 3}
    # exact-fit boundary is INCLUSIVE
    got2 = {r["doc_id"] for r in selection.select_token_budget(
        df, "q", "tok", budget=50).collect()}
    assert got2 == {1, 2, 3}
    # top class alone exceeding the budget -> empty selection
    assert selection.select_token_budget(df, "q", "tok", budget=10).count() == 0


def test_wilson_ci_bounds_and_extremes(spark):
    from nsdb_spark.operators import analytics
    from pyspark.sql import functions as F

    rows = [("a", 1)] * 8 + [("a", 0)] * 2 + [("b", 1)] * 5 + [("c", 0)] * 5
    df = spark.createDataFrame(rows, "g string, s int")
    out = {r["g"]: r for r in analytics.wilson_ci_by_group(
        df, "g", F.col("s") == 1).collect()}
    a = out["a"]
    assert a["p_hat"] == 0.8 and a["ci_low"] < 0.8 < a["ci_high"]
    # p_hat = 1: Wald would give a zero-width CI at 1; Wilson stays below
    b = out["b"]
    assert b["p_hat"] == 1.0 and b["ci_low"] < 1.0 and b["ci_high"] <= 1.0
    # p_hat = 0: lower bound clamps at >= 0
    c = out["c"]
    assert c["p_hat"] == 0.0 and c["ci_low"] >= 0.0 and c["ci_high"] > 0.0


def test_wasserstein_1d_matches_bruteforce(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(13)
    a = rng.normal(0.0, 1.0, 180).round(2)   # rounding forces ties
    b = rng.normal(0.7, 1.3, 140).round(2)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    got = analytics.wasserstein_1d(df, "v", "g", "a", "b").collect()[0]
    # brute force: sum over consecutive pooled values of |Fa-Fb| * gap
    pooled = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(np.sort(a), pooled, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), pooled, side="right") / len(b)
    ref = float(np.sum(np.abs(fa - fb)[:-1] * np.diff(pooled)))
    assert abs(got["w1_dist"] - ref) < 1e-6
    assert got["n_a"] == 180 and got["n_b"] == 140


def test_wasserstein_1d_location_shift_exact(spark):
    # a and b = a + c: W1 between the empirical distributions is exactly c
    from nsdb_spark.operators import analytics

    base = [1.0, 2.5, 4.0, 7.0]
    rows = [("a", v) for v in base] + [("b", v + 3.0) for v in base]
    df = spark.createDataFrame(rows, "g string, v double")
    got = analytics.wasserstein_1d(df, "v", "g", "a", "b").collect()[0]
    assert got["w1_dist"] == 3.0


def test_cvm_two_sample_matches_bruteforce(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(17)
    a = rng.normal(0.0, 1.0, 120).round(1)
    b = rng.normal(0.5, 1.0, 90).round(1)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    got = analytics.cvm_two_sample(df, "v", "g", "a", "b").collect()[0]
    pooled, counts = np.unique(
        np.concatenate([a, b]), return_counts=True
    )
    fa = np.searchsorted(np.sort(a), pooled, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), pooled, side="right") / len(b)
    n, m = len(a), len(b)
    ref = n * m / float(n + m) ** 2 * float(
        np.sum(counts * (fa - fb) ** 2)
    )
    assert abs(got["cvm_stat"] - ref) < 1e-6
    # identical samples → 0
    same = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0)],
        "g string, v double",
    )
    assert analytics.cvm_two_sample(same, "v", "g", "a", "b").collect()[
        0
    ]["cvm_stat"] == 0.0


def test_session_paths_orders_and_counts(spark):
    from nsdb_spark.operators import temporal_join

    rows = [
        # user 1, session 0: A > B (ordered by ts)
        (1, 1000, 1, "A"), (1, 2000, 2, "B"),
        # user 1, session 1 (gap > 5000): A > B again
        (1, 60_000, 3, "A"), (1, 61_000, 4, "B"),
        # user 2, one session: B alone
        (2, 1000, 5, "B"),
        # user 3: same ts twice — event_id breaks the tie (6 before 7)
        (3, 1000, 6, "C"), (3, 1000, 7, "D"),
    ]
    df = spark.createDataFrame(rows, "u long, ts long, eid long, et string")
    got = temporal_join.session_paths(
        df, key="u", ts="ts", gap_ms=5000, order_tie="eid",
        label="et", k=10,
    ).collect()
    out = {r["path"]: r["n_sessions"] for r in got}
    assert out == {"A>B": 2, "B": 1, "C>D": 1}
    # ordering: count desc, then path asc
    assert [r["path"] for r in got] == ["A>B", "B", "C>D"]


def test_kcore_peel_triangle_survives_chain_dies(spark):
    from nsdb_spark.operators import graph

    # triangle a-b-c plus a pendant chain c-d-e: 2-core = the triangle
    # (the chain peels back one node per round: e first, then d)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    got = {
        r["node"]: r["degree"]
        for r in graph.kcore_peel(edges, k=2, rounds=3).collect()
    }
    assert got == {"a": 2, "b": 2, "c": 2}
    # a fixed budget too small to converge keeps the partially-peeled
    # frontier: after ONE round only e (deg 1) is gone
    got1 = {
        r["node"]: r["degree"]
        for r in graph.kcore_peel(edges, k=2, rounds=1).collect()
    }
    assert set(got1) == {"a", "b", "c", "d"} and got1["d"] == 1


def test_brown_forsythe_matches_bruteforce(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(23)
    groups = {
        "g1": rng.normal(0, 1.0, 90),
        "g2": rng.normal(0, 2.0, 70),   # inflated variance
        "g3": rng.normal(5, 1.0, 80),   # shifted mean, same variance
    }
    rows = [(g, float(v)) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, x double")
    got = analytics.brown_forsythe(df, "x", "g").collect()[0]
    z = {g: np.abs(vs - np.median(vs)) for g, vs in groups.items()}
    N = sum(len(v) for v in z.values())
    k = len(z)
    zbar = sum(v.sum() for v in z.values()) / N
    num = sum(len(v) * (v.mean() - zbar) ** 2 for v in z.values())
    den = sum(((v - v.mean()) ** 2).sum() for v in z.values())
    ref = (N - k) / (k - 1) * num / den
    assert abs(got["bf_stat"] - ref) < 1e-5
    assert got["df1"] == k - 1 and got["df2"] == N - k
    assert got["k"] == 3 and got["n_total"] == 240


def test_hamming_topk_matches_bruteforce(spark):
    import numpy as np
    from nsdb_spark.operators import similarity

    rng = np.random.RandomState(29)
    vecs = rng.normal(0, 1, (50, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[7]]
    got = similarity.hamming_topk_signbits(df, q, k=5).collect()
    signs = vecs >= 0
    ref = np.sum(signs != (vecs[7] >= 0), axis=1)
    order = sorted(range(50), key=lambda i: (int(ref[i]), i))[:5]
    assert [r["vec_id"] for r in got] == order
    assert [r["hamming"] for r in got] == [int(ref[i]) for i in order]
    assert got[0]["vec_id"] == 7 and got[0]["hamming"] == 0


def test_markov_transition_probs_rows_sum_to_one(spark):
    from nsdb_spark.operators import analytics

    rows = [
        (1, 100, 1, "A"), (1, 200, 2, "B"), (1, 300, 3, "A"),
        (2, 100, 4, "A"), (2, 200, 5, "B"),
        (3, 100, 6, "C"),  # C never a predecessor -> uniform row
    ]
    df = spark.createDataFrame(
        rows, "user_id long, timestamp long, event_id long, event_type string"
    )
    got = analytics.markov_transition_probs(df, alpha=1.0).collect()
    assert len(got) == 9  # 3x3 grid, unseen pairs included
    out = {(r["prev_type"], r["next_type"]): r for r in got}
    # A -> B twice, A -> nothing else: p(B|A) = (2+1)/(2+3) = 0.6
    assert out[("A", "B")]["n"] == 2 and out[("A", "B")]["p"] == 0.6
    assert out[("A", "A")]["n"] == 0 and out[("A", "A")]["p"] == 0.2
    # C row is uniform 1/3
    assert out[("C", "A")]["p"] == round(1 / 3, 6)
    for prev in ("A", "B", "C"):
        s = sum(out[(prev, nxt)]["p"] for nxt in ("A", "B", "C"))
        assert abs(s - 1.0) < 1e-5


def test_qq_table_matches_numpy_quantiles(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(31)
    a = rng.normal(0, 1, 200)
    b = rng.normal(1, 1, 150)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["q"]: r for r in
           analytics.qq_table(df, "v", "g", "a", "b", n_q=4).collect()}
    assert set(got) == {0.25, 0.5, 0.75}
    for q in (0.25, 0.5, 0.75):
        # numpy 'linear' interpolation == Spark exact percentile
        assert abs(got[q]["q_a"] - np.quantile(a, q)) < 1e-6
        assert abs(got[q]["q_b"] - np.quantile(b, q)) < 1e-6
        assert abs(
            got[q]["gap"] - round(
                round(float(np.quantile(b, q)), 10)
                - float(np.quantile(a, q)), 10)
        ) < 1e-5


def test_kaplan_meier_hand_computed(spark):
    from nsdb_spark.operators import analytics

    # subject 1: events on days 0, 2, 5 -> gaps 2, 3; censored 5 (max=10)
    # subject 2: events on days 0, 3    -> gap 3; censored 7
    # subject 3: single event day 10    -> censored 0 (defines the horizon)
    rows = [
        (1, "2024-01-01"), (1, "2024-01-03"), (1, "2024-01-06"),
        (2, "2024-01-01"), (2, "2024-01-04"),
        (3, "2024-01-11"),
    ]
    df = spark.createDataFrame(rows, "s long, d string").select(
        "s", F.to_date("d").alias("d")
    )
    got = {r["t"]: r for r in
           analytics.kaplan_meier(df, "s", "d").collect()}
    # durations: events {2, 3, 3}, censored {0, 5, 7}; N = 6
    # t=2: at risk 5 (the 0-censored is gone), 1 event -> S = 4/5
    # t=3: at risk 4, 2 events -> S = 4/5 * 2/4 = 0.4
    assert set(got) == {2, 3}
    assert got[2]["n_risk"] == 5 and got[2]["n_events"] == 1
    assert abs(got[2]["survival"] - 0.8) < 1e-6
    assert got[3]["n_risk"] == 4 and got[3]["n_events"] == 2
    assert abs(got[3]["survival"] - 0.4) < 1e-6


def test_kaplan_meier_all_events_final_row_zero(spark):
    from nsdb_spark.operators import analytics

    # two subjects, both with a repeat on the horizon date: the final
    # event row exhausts the risk set -> survival exactly 0, no ln(0)
    rows = [
        (1, "2024-01-01"), (1, "2024-01-05"),
        (2, "2024-01-01"), (2, "2024-01-05"),
    ]
    df = spark.createDataFrame(rows, "s long, d string").select(
        "s", F.to_date("d").alias("d")
    )
    got = {r["t"]: r for r in
           analytics.kaplan_meier(df, "s", "d").collect()}
    # durations: events {4, 4}, censored {0, 0}
    assert got[4]["n_events"] == 2 and got[4]["n_risk"] == 2
    assert got[4]["survival"] == 0.0


def test_ljung_box_matches_bruteforce(spark):
    import numpy as np
    from nsdb_spark.operators import tsa

    rng = np.random.RandomState(37)
    # AR(1)-ish series: strong autocorrelation -> large Q
    x = [0.0]
    for _ in range(199):
        x.append(0.8 * x[-1] + rng.normal())
    rows = [("k1", i, i, float(v)) for i, v in enumerate(x)]
    df = spark.createDataFrame(
        rows, "event_type string, timestamp long, event_id long, value double"
    )
    got = tsa.ljung_box(df, h=3).collect()[0]
    xs = np.array(x)
    dev = xs - xs.mean()
    den = float((dev**2).sum())
    n = len(xs)
    q = 0.0
    for k in (1, 2, 3):
        rk = float((dev[k:] * dev[:-k]).sum()) / den
        q += rk * rk / (n - k)
    q *= n * (n + 2)
    assert got["n"] == n and abs(got["q_stat"] - q) < 1e-4
    # constant series: undefined (NULL) Q, not an error
    const = spark.createDataFrame(
        [("c", i, i, 5.0) for i in range(10)],
        "event_type string, timestamp long, event_id long, value double",
    )
    assert tsa.ljung_box(const, h=2).collect()[0]["q_stat"] is None


def test_runs_test_alternating_and_trending(spark):
    from nsdb_spark.operators import analytics

    # perfectly alternating around the median -> max runs, z > 0
    alt = spark.createDataFrame(
        [(i, 10.0 if i % 2 else 0.0) for i in range(20)],
        "o long, x double",
    )
    r = analytics.runs_test(alt, "x", "o").collect()[0]
    assert r["n_pos"] == 10 and r["n_neg"] == 10 and r["n_runs"] == 20
    assert r["z_stat"] > 3
    # fully separated (all lows then all highs) -> 2 runs, z < 0
    trend = spark.createDataFrame(
        [(i, 0.0 if i < 10 else 10.0) for i in range(20)],
        "o long, x double",
    )
    r2 = analytics.runs_test(trend, "x", "o").collect()[0]
    assert r2["n_runs"] == 2 and r2["z_stat"] < -3


def test_hamming_rerank_matches_exact_on_shortlist(spark):
    import numpy as np
    from nsdb_spark.operators import similarity

    rng = np.random.RandomState(41)
    vecs = rng.normal(0, 1, (60, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[3]]
    # shortlist >= n: two-stage == exact brute force
    got = similarity.hamming_rerank_topk(df, q, k=5, shortlist=60).collect()
    exact = similarity.cosine_topk(df, q, k=5).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got] == [
        (r["vec_id"], r["cosine"]) for r in exact
    ]
    # narrow shortlist still returns k rows led by the query itself
    got2 = similarity.hamming_rerank_topk(df, q, k=5, shortlist=10).collect()
    assert len(got2) == 5 and got2[0]["vec_id"] == 3


def test_anderson_darling_2s_properties(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    # identical samples: every per-value term has N*M - n*B = 0 -> A2 = 0
    base = [1.0, 2.0, 2.0, 3.0, 5.0]
    same = spark.createDataFrame(
        [("a", v) for v in base] + [("b", v) for v in base],
        "g string, v double",
    )
    got0 = analytics.anderson_darling_2s(same, "v", "g", "a", "b").collect()[0]
    assert got0["ad_stat"] == 0.0

    # independent brute force of the same Scholz-Stephens midrank formula
    rng = np.random.RandomState(43)
    a = rng.normal(0, 1, 100).round(1)
    b = rng.normal(0.6, 1.4, 80).round(1)
    df = spark.createDataFrame(
        [("a", float(v)) for v in a] + [("b", float(v)) for v in b],
        "g string, v double",
    )
    got = analytics.anderson_darling_2s(df, "v", "g", "a", "b").collect()[0]
    pooled, counts = np.unique(np.concatenate([a, b]), return_counts=True)
    fa = np.searchsorted(np.sort(a), pooled, side="right").astype(float)
    fb = np.searchsorted(np.sort(b), pooled, side="right").astype(float)
    la = np.diff(np.concatenate([[0], fa]))
    lb = np.diff(np.concatenate([[0], fb]))
    n, m = len(a), len(b)
    N = float(n + m)
    ell = counts.astype(float)
    ma = fa - la / 2.0
    mb = fb - lb / 2.0
    bj = fa + fb - ell / 2.0
    denom = bj * (N - bj) - N * ell / 4.0
    keep = denom > 0
    term = (ell / N) * (
        (N * ma - n * bj) ** 2 / n + (N * mb - m * bj) ** 2 / m
    ) / denom
    ref = (N - 1) / N * float(term[keep].sum())
    assert abs(got["ad_stat"] - ref) < 1e-5
    assert got["n_a"] == n and got["n_b"] == m


def test_neyman_allocation_hand_computed(spark):
    from nsdb_spark.operators import sampling

    # stratum A: 4 rows spread 10 apart; B: 4 rows constant; C: 1 row
    rows = (
        [("A", 0.0), ("A", 10.0), ("A", 20.0), ("A", 30.0)]
        + [("B", 5.0)] * 4
        + [("C", 1.0)]
    )
    df = spark.createDataFrame(rows, "st string, x double")
    got = {r["st"]: r for r in
           sampling.neyman_allocation(df, "st", "x", total_n=100).collect()}
    # C (n=1) drops; B has zero std -> zero allocation; A takes it all
    assert set(got) == {"A", "B"}
    assert got["B"]["alloc_share"] == 0.0 and got["B"]["n_alloc"] == 0.0
    assert got["A"]["alloc_share"] == 1.0 and got["A"]["n_alloc"] == 100.0
    assert got["A"]["n_rows"] == 4


def test_matryoshka_overlap_full_prefix_is_identity(spark):
    import numpy as np
    from nsdb_spark.operators import similarity

    rng = np.random.RandomState(47)
    vecs = rng.normal(0, 1, (40, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[0]]
    # prefix = full dim: overlap must be exactly k
    r = similarity.matryoshka_overlap(df, q, k=8, prefix=64).collect()[0]
    assert r["k"] == 8 and r["n_overlap"] == 8 and r["overlap_frac"] == 1.0
    # prefix search really uses only the prefix: make later dims pure
    # noise and the first 4 dims identical for two vectors
    r2 = similarity.matryoshka_overlap(df, q, k=8, prefix=4).collect()[0]
    assert 0 <= r2["n_overlap"] <= 8


def test_pps_systematic_coverage_and_multiplicity(spark):
    from nsdb_spark.operators import sampling

    # 10 items of size 1 plus one giant item of size 90: with n = 10
    # points over S = 100 (step 10), the giant takes ~9 hits
    rows = [(i, 1) for i in range(10)] + [(10, 90)]
    df = spark.createDataFrame(rows, "doc_id long, sz long")
    got = {r["doc_id"]: r for r in
           sampling.pps_systematic(df, "doc_id", "sz", n=10).collect()}
    assert sum(r["n_hits"] for r in got.values()) == 10
    assert got[10]["n_hits"] == 9
    # equal sizes: every k-th item selected exactly once
    eq = spark.createDataFrame([(i, 5) for i in range(20)],
                               "doc_id long, sz long")
    sel = sampling.pps_systematic(eq, "doc_id", "sz", n=4).collect()
    assert len(sel) == 4 and all(r["n_hits"] == 1 for r in sel)
    # zero/NULL sizes drop; empty input yields an empty frame
    empty = spark.createDataFrame([], "doc_id long, sz long")
    assert sampling.pps_systematic(empty, "doc_id", "sz", n=5).count() == 0


def test_deming_regression_known_line_and_symmetry(spark):
    from nsdb_spark.operators import analytics

    # exact line y = 2x + 1: TLS recovers it exactly
    pts = [(float(x), 2.0 * x + 1.0) for x in range(10)]
    df = spark.createDataFrame([("g", *p) for p in pts],
                               "g string, x double, y double")
    got = analytics.deming_regression(df, "g", "x", "y").collect()[0]
    assert abs(got["slope"] - 2.0) < 1e-6
    assert abs(got["intercept"] - 1.0) < 1e-6
    # TLS symmetry: slope(y~x) * slope(x~y) == 1 (unlike OLS)
    inv = analytics.deming_regression(df, "g", "y", "x").collect()[0]
    assert abs(got["slope"] * inv["slope"] - 1.0) < 1e-6


def test_degree_assortativity_star_is_negative(spark):
    from nsdb_spark.operators import graph

    # star: one hub to 5 leaves + one leaf-leaf edge -> disassortative
    edges = [("h", f"l{i}") for i in range(5)] + [("x", "l0")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = graph.degree_assortativity(df).collect()[0]
    assert got["n_edges"] == 6
    assert got["assortativity"] is not None and got["assortativity"] < 0
    # regular bipartite (all degrees equal): correlation undefined -> NULL
    reg = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")],
        "src string, dst string",
    )
    assert graph.degree_assortativity(reg).collect()[0]["assortativity"] is None


def test_clustering_coefficient_clique_vs_chain(spark):
    from nsdb_spark.operators import graph

    # docs 1-2-3 form a triangle (C = 1); 4-5-6 a chain (C = 0 at the
    # middle, undefined at the ends); 7 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6)],
        "doc_a long, doc_b long",
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)],
                                  "doc_id long")
    got = {r["doc_id"]: r for r in
           graph.clustering_coefficient(pairs, nodes).collect()}
    for i in (1, 2, 3):
        assert got[i]["coeff"] == 1.0 and got[i]["n_triangles"] == 1
        assert got[i]["degree"] == 2
    assert got[5]["coeff"] == 0.0 and got[5]["degree"] == 2
    assert got[4]["coeff"] is None and got[4]["degree"] == 1
    assert got[7]["coeff"] is None and got[7]["degree"] == 0


def test_json_field_stats_extracts_and_skips_bad_rows(spark):
    from nsdb_spark.operators import analytics

    rows = [
        ("a", '{"k": 10}'), ("a", '{"k": 20}'),
        ("a", '{"other": 5}'),      # path missing -> dropped
        ("a", None),                 # NULL json -> dropped
        ("b", '{"k": 7}'),
        (None, '{"k": 1}'),          # NULL group -> dropped
    ]
    df = spark.createDataFrame(rows, "event_type string, props string")
    got = {r["event_type"]: r for r in
           analytics.json_field_stats(df).collect()}
    assert got["a"]["n"] == 2 and got["a"]["avg_val"] == 15.0
    assert got["a"]["min_val"] == 10 and got["a"]["max_val"] == 20
    assert got["b"]["n"] == 1 and got["b"]["avg_val"] == 7.0


def test_mood_median_test_hand_computed(spark):
    from nsdb_spark.operators import analytics

    # g1 all below the pooled median, g2 all above -> maximal chi2 = N
    rows = [("g1", float(v)) for v in range(10)] + [
        ("g2", float(v)) for v in range(100, 110)
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    got = analytics.mood_median_test(df, "x", "g").collect()[0]
    # median = 54.5 (between the groups): no drops, N = 20, chi2 = 20
    assert got["n_total"] == 20 and got["k"] == 2 and got["df1"] == 1
    assert abs(got["chi2"] - 20.0) < 1e-6
    # identical groups -> chi2 == 0 (after median-value drops)
    same = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 1.0), ("b", 3.0)],
        "g string, x double",
    )
    r2 = analytics.mood_median_test(same, "x", "g").collect()[0]
    assert r2["chi2"] == 0.0


def test_kruskal_wallis_matches_bruteforce(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(53)
    groups = {
        "g1": rng.normal(0, 1, 60).round(1),
        "g2": rng.normal(0.5, 1, 50).round(1),
        "g3": rng.normal(1.0, 1, 40).round(1),
    }
    rows = [(g, float(v)) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    got = analytics.kruskal_wallis(df, "v", "g").collect()[0]
    pooled = np.concatenate(list(groups.values()))
    order = np.argsort(pooled, kind="stable")
    ranks = np.empty(len(pooled))
    sv = pooled[order]
    i = 0
    while i < len(sv):
        j = i
        while j < len(sv) and sv[j] == sv[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0
        i = j
    N = len(pooled)
    off, h = 0, 0.0
    for vs in groups.values():
        r = ranks[off:off + len(vs)]
        h += r.sum() ** 2 / len(vs)
        off += len(vs)
    h = 12.0 / (N * (N + 1)) * h - 3.0 * (N + 1)
    _, counts = np.unique(pooled, return_counts=True)
    c = 1.0 - float((counts.astype(float) ** 3 - counts).sum()) / (
        N**3 - N
    )
    assert abs(got["h_stat"] - h / c) < 1e-4
    assert got["k"] == 3 and got["df1"] == 2 and got["n_total"] == 150
    # all-tied input: correction 0 -> NULL, not an error
    same = spark.createDataFrame(
        [("a", 1.0), ("b", 1.0), ("a", 1.0)], "g string, v double"
    )
    assert analytics.kruskal_wallis(same, "v", "g").collect()[0][
        "h_stat"
    ] is None


def test_kpss_stat_level_shift_vs_noise(spark):
    import numpy as np
    from nsdb_spark.operators import tsa

    rng = np.random.RandomState(59)
    noise = rng.normal(0, 1, 300)
    shift = np.concatenate([rng.normal(0, 1, 150), rng.normal(6, 1, 150)])
    rows = [("flat", i, i, float(v)) for i, v in enumerate(noise)] + [
        ("shift", i, i, float(v)) for i, v in enumerate(shift)
    ]
    df = spark.createDataFrame(
        rows, "event_type string, timestamp long, event_id long, value double"
    )
    got = {r["event_type"]: r for r in
           tsa.kpss_stat(df, q=4, ts="timestamp").collect()}
    # a level shift wanders far from any constant mean -> much larger eta
    assert got["shift"]["kpss_stat"] > 10 * got["flat"]["kpss_stat"]
    assert got["flat"]["n"] == 300
    # constant series: zero long-run variance -> NULL
    const = spark.createDataFrame(
        [("c", i, i, 2.0) for i in range(20)],
        "event_type string, timestamp long, event_id long, value double",
    )
    assert tsa.kpss_stat(const, q=2, ts="timestamp").collect()[0][
        "kpss_stat"
    ] is None


def test_langid_confusion_shares_sum_to_one(spark):
    from nsdb_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, "the of and to in", "en"),
            (2, "the of and to in", "en"),
            (3, "der die und das ist", "de"),
            (4, "the of and", "de"),   # mislabeled or misdetected row
            (5, "whatever words", None),  # NULL label drops
        ],
        "doc_id long, text string, lang string",
    )
    got = text.langid_confusion(docs).collect()
    assert all(r["lang"] is not None for r in got)
    by_lang = {}
    for r in got:
        by_lang.setdefault(r["lang"], 0.0)
        by_lang[r["lang"]] += r["row_share"]
    for share in by_lang.values():
        assert abs(share - 1.0) < 1e-6
    diag = {(r["lang"], r["pred_lang"]): r["n"] for r in got}
    assert diag[("en", "en")] == 2


def test_band_self_count_matches_bruteforce(spark):
    import numpy as np
    from nsdb_spark.operators import joins

    rng = np.random.RandomState(61)
    xs = rng.uniform(0, 100, 80).round(1)
    rows = [(i, float(x)) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "id long, x double")
    got = {r["id"]: r["n_within"] for r in
           joins.band_self_count(df, "id", "x", delta=5.0).collect()}
    for i, x in enumerate(xs):
        ref = int(np.sum(np.abs(xs - x) <= 5.0)) - 1
        assert got[i] == ref
    # boundary is inclusive on both sides
    b = spark.createDataFrame([(1, 0.0), (2, 5.0), (3, 10.5)],
                              "id long, x double")
    gb = {r["id"]: r["n_within"] for r in
          joins.band_self_count(b, "id", "x", delta=5.0).collect()}
    assert gb == {1: 1, 2: 1, 3: 0}


def test_hill_tail_index_pareto_recovery(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    # exact Pareto(alpha=2) quantile sample: x_i = (1 - u_i)^(-1/2)
    rng = np.random.RandomState(67)
    u = rng.uniform(0, 1, 5000)
    xs = (1.0 - u) ** (-1.0 / 2.0)
    df = spark.createDataFrame([(float(x),) for x in xs], "v double")
    got = analytics.hill_tail_index(df, "v", k=500).collect()[0]
    assert got["k"] == 500
    assert 1.6 < got["alpha"] < 2.4   # consistent estimator near 2
    # all-equal top values: denominator 0 -> NULL
    const = spark.createDataFrame([(3.0,)] * 20, "v double")
    assert analytics.hill_tail_index(const, "v", k=5).collect()[0][
        "alpha"
    ] is None


def test_hill_tail_index_short_input_uses_effective_k(spark):
    """ADVICE round-4: with n <= k rows there is no x_(k+1); the
    estimator must shrink to the effective k = n-1 (cutoff row excluded
    from the log-mean) and REPORT that k, not the nominal request."""
    import math

    from nsdb_spark.operators import analytics

    xs = [16.0, 8.0, 4.0, 2.0, 1.0]  # 5 rows, ask k=200
    df = spark.createDataFrame([(x,) for x in xs], "v double")
    got = analytics.hill_tail_index(df, "v", k=200).collect()[0]
    assert got["k"] == 4              # effective, not 200
    assert got["x_tail"] == 1.0       # x_(5) is the cutoff
    # hand-computed Hill over the 4 largest with cutoff x_tail=1:
    expect = 1.0 / (sum(math.log(x) for x in xs[:4]) / 4 - math.log(1.0))
    assert abs(got["alpha"] - expect) < 1e-6
    # single row: no cutoff exists at all -> alpha NULL, k = 0
    one = spark.createDataFrame([(5.0,)], "v double")
    r1 = analytics.hill_tail_index(one, "v", k=10).collect()[0]
    assert r1["k"] == 0 and r1["alpha"] is None


def test_modularity_two_cliques_vs_random(spark):
    from nsdb_spark.operators import graph

    # two 4-cliques joined by one bridge edge, perfect partition
    def clique(members):
        return [(a, b) for a in members for b in members if a < b]

    edges = clique([1, 2, 3, 4]) + clique([5, 6, 7, 8]) + [(4, 5)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    labels = spark.createDataFrame(
        [(i, 1 if i <= 4 else 2) for i in range(1, 9)],
        "node long, label long",
    )
    got = graph.modularity(edf, labels).collect()[0]
    assert got["m"] == 13 and got["n_communities"] == 2
    # known value: 12/13 - (13/26)^2 - (13/26)^2 = 12/13 - 0.5
    assert abs(got["modularity"] - (12 / 13 - 0.5)) < 1e-6
    # everything in ONE community: Q = 1 - 1 = 0 exactly
    one = spark.createDataFrame([(i, 0) for i in range(1, 9)],
                                "node long, label long")
    assert graph.modularity(edf, one).collect()[0]["modularity"] == 0.0


def test_concordance_ccc_identity_vs_scaled(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(71)
    x = rng.normal(10, 2, 200)
    # y == x: perfect agreement, ccc == pearson == 1
    df = spark.createDataFrame(
        [(float(a), float(a)) for a in x], "x double, y double"
    )
    got = analytics.concordance_ccc(df, "x", "y").collect()[0]
    assert got["ccc"] == 1.0 and got["pearson_r"] == 1.0
    # y = 2x + 5: r stays 1, ccc drops well below
    df2 = spark.createDataFrame(
        [(float(a), float(2 * a + 5)) for a in x], "x double, y double"
    )
    got2 = analytics.concordance_ccc(df2, "x", "y").collect()[0]
    assert abs(got2["pearson_r"] - 1.0) < 1e-6
    assert got2["ccc"] < 0.5
    # constant columns: undefined -> NULL
    c = spark.createDataFrame([(1.0, 1.0)] * 5, "x double, y double")
    assert analytics.concordance_ccc(c, "x", "y").collect()[0][
        "ccc"
    ] is None


def test_markov_entropy_rate_deterministic_vs_uniform(spark):
    import math
    from nsdb_spark.operators import analytics

    # deterministic cycle A->B->A->B: every row's p = 1 -> H = 0
    det = [(1, i, i, "A" if i % 2 == 0 else "B") for i in range(40)]
    df = spark.createDataFrame(
        det, "user_id long, timestamp long, event_id long, event_type string"
    )
    got = analytics.markov_entropy_rate(df).collect()[0]
    assert got["entropy_rate"] == 0.0
    assert got["max_entropy"] == round(math.log(2), 6)
    # A alternating uniformly to B or C -> H = pi_A * ln 2
    seq = []
    nxt = ["B", "C"]
    t = 0
    for i in range(40):
        seq.append((1, t, t, "A")); t += 1
        seq.append((1, t, t, nxt[i % 2])); t += 1
    df2 = spark.createDataFrame(
        seq, "user_id long, timestamp long, event_id long, event_type string"
    )
    got2 = analytics.markov_entropy_rate(df2).collect()[0]
    # sources: A (from B/C returns and A->x steps) — H > 0, < ln 3
    assert 0 < got2["entropy_rate"] < math.log(3)


def test_compression_ratio_orders_text_kinds(spark):
    from nsdb_spark.operators import text

    import hashlib

    # chained hex digests: near-maximal entropy over the hex alphabet
    noisy, h = [], b"seed"
    for _ in range(50):
        h = hashlib.sha256(h).digest()
        noisy.append(h.hex())
    docs = spark.createDataFrame(
        [
            (1, "spam " * 200),                       # highly repetitive
            (2, "the quick brown fox jumps over the lazy dog " * 20),
            (3, "".join(noisy)),
            (4, None),                                 # NULL text
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.compression_ratio(docs).collect()}
    assert got[1]["ratio"] < got[2]["ratio"] < got[3]["ratio"]
    assert got[3]["ratio"] > 0.5          # high-entropy barely compresses
    assert got[1]["ratio"] < 0.05         # pure repetition collapses
    assert got[4]["ratio"] is None and got[4]["n_bytes"] is None
    assert got[2]["n_bytes"] == len(
        ("the quick brown fox jumps over the lazy dog " * 20).encode()
    )


def test_odds_ratio_2x2_hand_computed(spark):
    import math
    from nsdb_spark.operators import analytics

    # a=20, b=10, c=5, d=15 -> OR = 20*15/(10*5) = 6
    rows = (
        [(True, True)] * 20 + [(True, False)] * 10
        + [(False, True)] * 5 + [(False, False)] * 15
    )
    df = spark.createDataFrame(rows, "e boolean, o boolean")
    got = analytics.odds_ratio_2x2(df, "e", "o").collect()[0]
    assert (got["a"], got["b"], got["c"], got["d"]) == (20, 10, 5, 15)
    assert got["odds_ratio"] == 6.0
    se = math.sqrt(1 / 20 + 1 / 10 + 1 / 5 + 1 / 15)
    assert abs(got["ci_low"] - math.exp(math.log(6) - 1.959963984540054 * se)) < 1e-5
    assert got["ci_low"] < 6.0 < got["ci_high"]
    assert got["p1"] == round(20 / 30, 6) and got["p2"] == 0.25
    # empty cell -> OR undefined, no crash
    deg = spark.createDataFrame(
        [(True, True), (False, False)], "e boolean, o boolean"
    )
    assert analytics.odds_ratio_2x2(deg, "e", "o").collect()[0][
        "odds_ratio"
    ] is None


def test_mcnemar_paired_hand_computed(spark):
    from nsdb_spark.operators import analytics

    rows = []
    # 3 users active both periods
    for u in range(3):
        rows += [(u, 50), (u, 150)]
    # 6 users only before, 2 only after
    for u in range(10, 16):
        rows.append((u, 50))
    for u in range(20, 22):
        rows.append((u, 150))
    df = spark.createDataFrame(rows, "user_id long, t long")
    got = analytics.mcnemar_paired(df, split_ms=100, ts="t").collect()[0]
    assert got["n_users"] == 11 and got["n_both"] == 3
    assert got["n_only_before"] == 6 and got["n_only_after"] == 2
    # chi2 = (|6-2|-1)^2 / 8 = 9/8
    assert abs(got["chi2"] - 9 / 8) < 1e-6
    # no discordant users -> NULL
    same = spark.createDataFrame([(1, 50), (1, 150)], "user_id long, t long")
    assert analytics.mcnemar_paired(same, split_ms=100, ts="t").collect()[
        0
    ]["chi2"] is None


def test_neyman_stratified_sample_takes_floor_counts(spark):
    from nsdb_spark.operators import sampling

    rows = (
        [("A", i, float(i * 10)) for i in range(20)]          # spread
        + [("B", 100 + i, 5.0) for i in range(20)]            # constant
        + [("C", 200, 1.0)]                                    # n=1 drops
    )
    df = spark.createDataFrame(rows, "st string, id long, x double")
    got = sampling.neyman_stratified_sample(
        df, stratum="st", value="x", id_col="id", total_n=10
    ).collect()
    by = {}
    for r in got:
        by.setdefault(r["st"], []).append(r["id"])
    # all mass on A (B has zero std, C dropped): A takes all 10
    assert set(by) == {"A"} and len(by["A"]) == 10
    # deterministic: same call returns the identical id set
    again = sampling.neyman_stratified_sample(
        df, stratum="st", value="x", id_col="id", total_n=10
    ).collect()
    assert sorted(r["id"] for r in again) == sorted(by["A"])


def test_auc_rank_matches_bruteforce(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(73)
    pos = rng.normal(0.7, 0.2, 80).round(2)
    neg = rng.normal(0.4, 0.2, 120).round(2)
    rows = [(float(s), True) for s in pos] + [
        (float(s), False) for s in neg
    ]
    df = spark.createDataFrame(rows, "s double, y boolean")
    got = analytics.auc_rank(df, "s", "y").collect()[0]
    # brute force with ties = 0.5
    wins = sum(
        1.0 if p > q else (0.5 if p == q else 0.0)
        for p in pos for q in neg
    )
    assert abs(got["auc"] - wins / (80 * 120)) < 1e-6
    assert got["n_pos"] == 80 and got["n_neg"] == 120
    # perfect separation
    sep = spark.createDataFrame(
        [(0.9, True)] * 5 + [(0.1, False)] * 5, "s double, y boolean"
    )
    assert analytics.auc_rank(sep, "s", "y").collect()[0]["auc"] == 1.0


def test_brier_and_calibration_perfect_vs_flipped(spark):
    from nsdb_spark.operators import analytics

    perfect = spark.createDataFrame(
        [(1.0, True)] * 6 + [(0.0, False)] * 4, "s double, y boolean"
    )
    b = analytics.brier_score(perfect, "s", "y").collect()[0]
    assert b["brier"] == 0.0 and b["base_rate"] == 0.6 and b["n"] == 10
    flipped = spark.createDataFrame(
        [(0.0, True)] * 6 + [(1.0, False)] * 4, "s double, y boolean"
    )
    assert analytics.brier_score(flipped, "s", "y").collect()[0][
        "brier"
    ] == 1.0
    cal = {r["bin"]: r for r in analytics.calibration_bins(
        perfect, "s", "y").collect()}
    # score 1.0 folds into the top bin; both bins perfectly calibrated
    assert set(cal) == {0, 9}
    assert cal[9]["frac_pos"] == 1.0 and cal[9]["gap"] == 0.0
    assert cal[0]["frac_pos"] == 0.0 and cal[0]["gap"] == 0.0


def test_lift_table_top_band_concentrates_positives(spark):
    from nsdb_spark.operators import analytics

    # 100 rows, scores 0.00..0.99; positives are exactly the top 20
    rows = [(i / 100.0, i >= 80) for i in range(100)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    got = {r["band"]: r for r in
           analytics.lift_table(df, "s", "y", nbins=10).collect()}
    # percentile multiples of 0.1 land in the UPPER band (floor on the
    # right-closed midrank), so the top band takes ranks 90..100
    assert len(got) == 10 and sum(r["n"] for r in got.values()) == 100
    assert got[0]["n"] == 11 and got[0]["resp_rate"] == 1.0
    assert got[0]["cum_lift"] == 5.0            # 11/11 over base 0.2
    assert got[1]["n_pos"] == 9 and got[1]["resp_rate"] == 0.9
    assert got[2]["resp_rate"] == 0.0
    # bottom band cumulative covers everything: lift exactly 1
    assert got[9]["cum_lift"] == 1.0


def test_split_leakage_grid_counts(spark):
    from nsdb_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (7, 8)], "doc_a long, doc_b long"
    )
    splits = spark.createDataFrame(
        [(1, "train"), (2, "train"), (3, "train"), (4, "test"),
         (5, "test"), (6, "val"), (7, "val"), (8, "val")],
        "doc_id long, split string",
    )
    got = {(r["split_a"], r["split_b"]): r for r in
           dedup.split_leakage(pairs, splits).collect()}
    assert got[("train", "train")]["n_pairs"] == 1
    assert got[("train", "train")]["is_leak"] is False
    assert got[("test", "train")]["n_pairs"] == 1
    assert got[("test", "train")]["is_leak"] is True
    assert got[("test", "val")]["n_pairs"] == 1
    assert got[("val", "val")]["n_pairs"] == 1


def test_bfs_hops_chain_and_budget(spark):
    from nsdb_spark.operators import graph

    # chain a-b-c-d-e plus shortcut a-c
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "c")],
        "src string, dst string",
    )
    got = {r["node"]: r["hops"] for r in
           graph.bfs_hops(edges, "a", rounds=3).collect()}
    # shortcut wins: c at 1, d at 2, e at 3
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2, "e": 3}
    # budget of 1: only the direct neighbors
    got1 = {r["node"]: r["hops"] for r in
            graph.bfs_hops(edges, "a", rounds=1).collect()}
    assert got1 == {"a": 0, "b": 1, "c": 1}


def test_seasonal_strength_pure_wave_vs_noise(spark):
    import numpy as np
    from nsdb_spark.operators import tsa

    rng = np.random.RandomState(79)
    day = 86_400_000
    rows = []
    for i in range(7 * 20):   # 20 weeks of daily points
        ts = i * day
        phase_val = float(i % 7) * 10.0
        rows.append(("wave", ts, phase_val))            # pure seasonal
        rows.append(("noise", ts, float(rng.normal())))  # no structure
    df = spark.createDataFrame(rows, "event_type string, timestamp long, value double")
    got = {r["event_type"]: r for r in
           tsa.seasonal_strength(df, ts="timestamp").collect()}
    assert got["wave"]["strength"] == 1.0
    assert got["wave"]["n_phases"] == 7
    assert got["noise"]["strength"] < 0.15
    # constant series -> NULL strength
    const = spark.createDataFrame(
        [("c", i * day, 5.0) for i in range(14)],
        "event_type string, timestamp long, value double",
    )
    assert tsa.seasonal_strength(const, ts="timestamp").collect()[0][
        "strength"
    ] is None


def test_g_test_independence_vs_bruteforce(spark):
    import math
    from nsdb_spark.operators import analytics

    rows = (
        [("en", "s1")] * 30 + [("en", "s2")] * 10
        + [("de", "s1")] * 10 + [("de", "s2")] * 30
    )
    df = spark.createDataFrame(rows, "lang string, src string")
    got = analytics.g_test_independence(df, "lang", "src").collect()[0]
    n = 80
    obs = {("en", "s1"): 30, ("en", "s2"): 10,
           ("de", "s1"): 10, ("de", "s2"): 30}
    ref = 2 * sum(
        o * math.log(o / (40 * 40 / n)) for o in obs.values()
    )
    assert abs(got["g_stat"] - ref) < 1e-5
    assert got["dof"] == 1 and got["n"] == 80
    # perfectly independent table -> G == 0
    ind = spark.createDataFrame(
        [("a", "x")] * 4 + [("a", "y")] * 4 + [("b", "x")] * 4
        + [("b", "y")] * 4,
        "lang string, src string",
    )
    assert analytics.g_test_independence(ind, "lang", "src").collect()[
        0
    ]["g_stat"] == 0.0


def test_source_vocab_overlap_hand_computed(spark):
    from nsdb_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),
            (2, "c d e f", "s2"),      # shares {c, d} with s1
            (3, "x y", "s3"),          # disjoint
        ],
        "doc_id long, text string, source string",
    )
    got = {(r["source_a"], r["source_b"]): r for r in
           text.source_vocab_overlap(docs).collect()}
    assert got[("s1", "s2")]["n_shared"] == 2
    assert got[("s1", "s2")]["jaccard"] == round(2 / 6, 6)
    assert ("s1", "s3") not in got and ("s2", "s3") not in got


def test_longest_streaks_gaps_and_islands(spark):
    from nsdb_spark.operators import analytics

    rows = [
        # user 1: A A A B A A  -> A streaks 3 and 2, B streak 1
        (1, 1, 1, "A"), (1, 2, 2, "A"), (1, 3, 3, "A"),
        (1, 4, 4, "B"), (1, 5, 5, "A"), (1, 6, 6, "A"),
        # user 2: B B B B      -> B streak 4
        (2, 1, 7, "B"), (2, 2, 8, "B"), (2, 3, 9, "B"), (2, 4, 10, "B"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, timestamp long, event_id long, event_type string"
    )
    got = {r["event_type"]: r for r in
           analytics.longest_streaks(df, min_len=3).collect()}
    assert got["A"]["max_streak"] == 3
    assert got["A"]["n_streaks"] == 1 and got["A"]["n_users"] == 1
    assert got["B"]["max_streak"] == 4
    assert got["B"]["n_streaks"] == 1 and got["B"]["n_users"] == 1


def test_jarque_bera_normal_vs_heavy_tail(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(83)
    rows = [("norm", float(v)) for v in rng.normal(0, 1, 2000)] + [
        ("exp", float(v)) for v in rng.exponential(1.0, 2000)
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    got = {r["g"]: r for r in
           analytics.jarque_bera_by_group(df, "g", "x").collect()}
    # normal sample: small skew/kurt, JB well under the exp sample's
    assert abs(got["norm"]["skewness"]) < 0.2
    assert abs(got["norm"]["ex_kurtosis"]) < 0.5
    assert got["exp"]["skewness"] > 1.5     # exponential: skew ~ 2
    assert got["exp"]["jb"] > 100 * got["norm"]["jb"]
    # numpy cross-check of the exact formula on the exp sample
    x = np.array([v for g, v in rows if g == "exp"])
    d = x - x.mean()
    m2 = (d**2).mean()
    sk = (d**3).mean() / m2**1.5
    ku = (d**4).mean() / m2**2 - 3
    jb = len(x) / 6 * (sk**2 + ku**2 / 4)
    assert abs(got["exp"]["jb"] - jb) < 1e-3
    # constant group -> NULLs
    const = spark.createDataFrame([("c", 1.0)] * 5, "g string, x double")
    assert analytics.jarque_bera_by_group(const, "g", "x").collect()[0][
        "skewness"
    ] is None


def test_int8_recall_topk_bounds(spark):
    import numpy as np
    from nsdb_spark.operators import similarity

    rng = np.random.RandomState(89)
    vecs = rng.normal(0, 1, (60, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[0]]
    got = similarity.int8_recall_topk(df, q, k=10).collect()[0]
    # int8 keeps ~7 bits of precision: overlap should be near-total
    assert got["k"] == 10 and got["n_overlap"] >= 8
    assert got["overlap_frac"] == round(got["n_overlap"] / 10, 6)


def test_class_balance_keeps_positives_downsamples_negatives(spark):
    from pyspark.sql import functions as F
    from nsdb_spark.operators import sampling

    rows = [(i, i < 50) for i in range(1050)]   # 50 pos, 1000 neg
    df = spark.createDataFrame(rows, "id long, y boolean")
    got = sampling.class_balance(df, "id", "y", ratio=1.0).collect()
    pos = [r for r in got if r["is_pos"]]
    neg = [r for r in got if not r["is_pos"]]
    assert len(pos) == 50                       # every positive kept
    assert 25 <= len(neg) <= 90                 # ~50 expected, hash-tight
    # deterministic: identical second draw
    again = sampling.class_balance(df, "id", "y", ratio=1.0).collect()
    assert sorted(r["id"] for r in again) == sorted(r["id"] for r in got)
    # already-balanced input: rate 1, nothing dropped
    bal = spark.createDataFrame([(i, i % 2 == 0) for i in range(100)],
                                "id long, y boolean")
    assert sampling.class_balance(bal, "id", "y", ratio=1.0).count() == 100


def test_class_balance_huge_and_negative_ids_no_overflow(spark):
    """ADVICE round-4: the old inline (id * 2654435761) slot overflowed
    int64 above ~3.5e9 (ANSI ARITHMETIC_OVERFLOW) and kept ALL negative
    ids (% goes negative < rate_slots). The _slot limb product must
    handle both: run succeeds and negatives are hash-decided, not
    blanket-kept."""
    from nsdb_spark.operators import sampling

    big = 4_000_000_000  # above the int64 product overflow threshold
    rows = [(big + i, True) for i in range(20)] + [
        (big + 1000 + i, False) for i in range(2000)
    ] + [(-(i + 1), False) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, y boolean")
    got = sampling.class_balance(df, "id", "y", ratio=1.0).collect()
    assert sum(1 for r in got if r["is_pos"]) == 20
    neg = [r for r in got if not r["is_pos"]]
    # rate = 20/4000 = 0.5%: keeping all 2000 negatives of either sign
    # would mean the hash is biased; expect a small sample from both
    assert len(neg) < 200
    assert any(r["id"] < 0 for r in got) or len(neg) < 200  # negatives not blanket-kept
    from nsdb_spark.operators import tsa

    # exact line x_t = 5 + 2t: Holt converges toward trend 2 and the
    # one-step forecast approaches the true next value
    rows = [(1, t, t, 5.0 + 2.0 * t) for t in range(60)]
    df = spark.createDataFrame(
        rows, "user_id long, timestamp long, event_id long, value double"
    )
    got = tsa.holt_last(df, alpha=0.5, beta=0.3).collect()[0]
    assert got["n"] == 60
    assert abs(got["trend"] - 2.0) < 0.05
    assert abs(got["forecast_1"] - (5.0 + 2.0 * 60)) < 0.5
    # python reference fold, exact to rounding
    level, trend = 5.0, 0.0
    for t in range(1, 60):
        x = 5.0 + 2.0 * t
        ln = 0.5 * x + 0.5 * (level + trend)
        trend = 0.3 * (ln - level) + 0.7 * trend
        level = ln
    assert got["level"] == round(level, 6)
    assert got["trend"] == round(trend, 6)
    # single sample: level = x0, trend = 0
    one = spark.createDataFrame(
        [(2, 0, 0, 7.5)], "user_id long, timestamp long, event_id long, value double"
    )
    r1 = tsa.holt_last(one).collect()[0]
    assert r1["level"] == 7.5 and r1["trend"] == 0.0


def test_max_drawdown_hand_computed(spark):
    from nsdb_spark.operators import tsa

    # series 10, 15, 8, 12, 4: peak 15, worst drop 15 -> 4 = 11
    rows = [(1, t, t, v) for t, v in
            enumerate([10.0, 15.0, 8.0, 12.0, 4.0])]
    df = spark.createDataFrame(
        rows, "user_id long, timestamp long, event_id long, value double"
    )
    got = tsa.max_drawdown(df).collect()[0]
    assert got["peak"] == 15.0 and got["max_drawdown"] == 11.0
    # monotone series: drawdown exactly 0
    up = spark.createDataFrame(
        [(2, t, t, float(t)) for t in range(5)],
        "user_id long, timestamp long, event_id long, value double",
    )
    assert tsa.max_drawdown(up).collect()[0]["max_drawdown"] == 0.0


def test_tukey_outlier_share_hand_computed(spark):
    from nsdb_spark.operators import analytics

    # 0..99 plus two wild points; q1=25.25?, use numpy to cross-check
    import numpy as np

    vals = [float(v) for v in range(100)] + [1000.0, -1000.0]
    df = spark.createDataFrame([("g", v) for v in vals],
                               "g string, x double")
    got = analytics.tukey_outlier_share(df, "g", "x").collect()[0]
    q1 = round(float(np.quantile(vals, 0.25)), 6)
    q3 = round(float(np.quantile(vals, 0.75)), 6)
    assert got["q1"] == q1 and got["q3"] == q3
    lo = round(q1 - 1.5 * (q3 - q1), 6)
    hi = round(q3 + 1.5 * (q3 - q1), 6)
    n_out = sum(1 for v in vals if v < lo or v > hi)
    assert got["n_outliers"] == n_out == 2
    assert got["outlier_share"] == round(2 / 102, 6)


def test_moment_rollup_merge_invariant_and_skew(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from nsdb_spark.operators import rollup
    from nsdb_spark.sources import testdata

    rng = np.random.RandomState(97)
    day = 86_400_000
    rows = [(int(i * day / 4), float(v), i) for i, v in
            enumerate(rng.exponential(2.0, 400))]
    df = spark.createDataFrame(rows, "timestamp long, value double, event_id long")
    shard = testdata.SHARD_INTERVAL_MS
    bounds = rollup.temporal_bounds(df, shard)
    full, _ = rollup.build_moment_rollup(df, day, shard, bounds=bounds)
    ra, _ = rollup.build_moment_rollup(
        df.filter(F.col("event_id") % 2 == 0), day, shard, bounds=bounds
    )
    rb, _ = rollup.build_moment_rollup(
        df.filter(F.col("event_id") % 2 == 1), day, shard, bounds=bounds
    )
    merged = rollup.merge_moment_rollups(ra, rb)
    a = {r["k"]: r for r in full.collect()}
    b = {r["k"]: r for r in merged.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k]["n"] == b[k]["n"]
        for c in ("s1", "s2", "s3", "s4"):
            assert abs(a[k][c] - b[k][c]) < 1e-6 * max(1, abs(a[k][c]))
    # served skew of an exponential sample is clearly positive
    served = rollup.temporal_skew_from_moment_rollup(
        spark, full, bounds, day, 7 * day
    ).collect()
    filled = [r for r in served if r["n_value"] >= 25]
    assert filled and all(r["skewness"] > 0.3 for r in filled)


def test_cvar_by_group_hand_computed(spark):
    from nsdb_spark.operators import analytics

    vals = [float(v) for v in range(1, 101)]   # 1..100
    df = spark.createDataFrame([("g", v) for v in vals], "g string, x double")
    got = analytics.cvar_by_group(df, "g", "x", p=0.9).collect()[0]
    # exact p90 of 1..100 = 90.1; tail = {91..100}, mean 95.5
    assert got["var_p"] == 90.1
    assert got["cvar_p"] == 95.5 and got["n_tail"] == 10


def test_variance_ratio_random_walk_vs_reverting(spark):
    import numpy as np
    from nsdb_spark.operators import tsa

    rng = np.random.RandomState(101)
    steps = rng.normal(0, 1, 800)
    walk = np.cumsum(steps)                     # VR ~ 1
    noise = rng.normal(0, 1, 800)               # strongly mean-reverting: VR < 1
    rows = [("walk", i, i, float(v)) for i, v in enumerate(walk)] + [
        ("noise", i, i, float(v)) for i, v in enumerate(noise)
    ]
    df = spark.createDataFrame(
        rows, "event_type string, timestamp long, event_id long, value double"
    )
    got = {r["event_type"]: r["vr"] for r in
           tsa.variance_ratio(df, q=4, ts="timestamp").collect()}
    assert 0.7 < got["walk"] < 1.3
    assert got["noise"] < 0.5
    # constant series -> NULL
    const = spark.createDataFrame(
        [("c", i, i, 3.0) for i in range(20)],
        "event_type string, timestamp long, event_id long, value double",
    )
    assert tsa.variance_ratio(const, ts="timestamp").collect()[0]["vr"] is None


def test_covariance_matrix_matches_numpy(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(103)
    x = rng.normal(0, 1, 300)
    y = 2 * x + rng.normal(0, 0.5, 300)
    z = rng.normal(5, 3, 300)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x, y, z)],
        "x double, y double, z double",
    )
    got = {(r["col_a"], r["col_b"]): r for r in
           analytics.covariance_matrix(df, ["x", "y", "z"]).collect()}
    assert len(got) == 6                        # upper triangle of 3x3
    cm = np.cov(np.vstack([x, y, z]))           # sample covariance
    names = ["x", "y", "z"]
    for i, a in enumerate(names):
        for j in range(i, 3):
            b = names[j]
            assert abs(got[(a, b)]["cov"] - cm[i, j]) < 1e-4
    assert got[("x", "x")]["corr"] == 1.0
    assert got[("x", "y")]["corr"] > 0.96


def test_poisson_check_exponential_vs_regular(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(107)
    # true Poisson process: exponential gaps -> small KS distance
    exp_ts = np.cumsum(rng.exponential(1000.0, 3000)).astype(int)
    df_exp = spark.createDataFrame(
        [(1, int(t)) for t in exp_ts], "user_id long, timestamp long"
    )
    r_exp = analytics.poisson_check(df_exp).collect()[0]
    # perfectly regular schedule: gaps constant -> KS near its max
    df_reg = spark.createDataFrame(
        [(1, i * 1000) for i in range(3000)], "user_id long, timestamp long"
    )
    r_reg = analytics.poisson_check(df_reg).collect()[0]
    assert r_exp["ks_dist"] < 0.05
    assert r_reg["ks_dist"] > 0.3
    assert r_reg["lambda_hat"] == round(1 / 1000.0, 6)
    assert r_exp["n_gaps"] == 2999


def test_latest_percentile_hand_computed(spark):
    from nsdb_spark.operators import analytics

    rows = (
        # user 1: history 1..9, latest (ts=10) value 5 -> below=4,
        # ties=1 (itself): pct = (4 + 1) / 10? -> (4 + (1+1)/2)/10 = 0.5
        [(1, t, t, float(t)) for t in range(1, 10)] + [(1, 10, 10, 5.0)]
        # user 2: latest is its own maximum -> pct = (2 + 1) / 3
        + [(2, 1, 11, 1.0), (2, 2, 12, 2.0), (2, 3, 13, 9.0)]
    )
    df = spark.createDataFrame(
        rows, "user_id long, timestamp long, event_id long, value double"
    )
    got = {r["user_id"]: r for r in analytics.latest_percentile(
        df, "user_id", "timestamp", "value", "event_id").collect()}
    assert got[1]["last_value"] == 5.0 and got[1]["n"] == 10
    # below = 4 (values 1-4), ties = 2 (the old 5 and the latest 5)
    assert got[1]["pct_rank"] == round((4 + (2 + 1) / 2) / 10, 6)
    assert got[2]["last_value"] == 9.0
    assert got[2]["pct_rank"] == round((2 + 1) / 3, 6)


def test_cochran_armitage_trend_vs_flat(spark):
    from nsdb_spark.operators import analytics

    # success rate rises with score: strong positive z
    rows = []
    for g, s_rate, n in (("a", 0.1, 100), ("b", 0.3, 100), ("c", 0.6, 100)):
        rows += [(g, i < int(s_rate * n)) for i in range(n)]
    df = spark.createDataFrame(rows, "g string, y boolean")
    got = analytics.cochran_armitage(
        df, "g", "y", scores={"a": 1.0, "b": 2.0, "c": 3.0}
    ).collect()[0]
    assert got["n_total"] == 300 and got["k"] == 3
    assert got["z_stat"] > 5
    # identical rates -> t near 0
    flat = spark.createDataFrame(
        [(g, i < 30) for g in ("a", "b", "c") for i in range(100)],
        "g string, y boolean",
    )
    r2 = analytics.cochran_armitage(
        flat, "g", "y", scores={"a": 1.0, "b": 2.0, "c": 3.0}
    ).collect()[0]
    assert abs(r2["t_stat"]) < 1e-6


def test_rich_club_clique_plus_leaves(spark):
    from nsdb_spark.operators import graph

    # 4-clique of hubs, each hub also feeding 3 private leaves:
    # hubs have degree 6, leaves degree 1
    edges = []
    hubs = ["h1", "h2", "h3", "h4"]
    for i, a in enumerate(hubs):
        for b in hubs[i + 1:]:
            edges.append((a, b))
        for j in range(3):
            edges.append((a, f"{a}_l{j}"))
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["k"]: r for r in graph.rich_club(df, ks=(2, 5)).collect()}
    # k=2: only the 4 hubs qualify (deg 6 > 2); club = the full clique
    assert got[2]["n_nodes"] == 4 and got[2]["n_edges"] == 6
    assert got[2]["phi"] == 1.0
    # k=5: hubs still qualify (6 > 5) — same club
    assert got[5]["phi"] == 1.0
    # k above every degree: empty club -> NULL phi
    empty = graph.rich_club(df, ks=(10,)).collect()[0]
    assert empty["n_nodes"] == 0 and empty["phi"] is None


def test_bigram_entropy_repetitive_vs_varied(spark):
    import math
    from nsdb_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b a b"),        # one bigram dominates
            (2, "a b c d e f g h"),        # all bigrams distinct
            (3, "single"),                 # no bigrams
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.bigram_entropy(docs).collect()}
    # doc 2: 7 distinct bigrams, uniform -> entropy = ln 7 = max
    assert got[2]["n_bigrams"] == 7
    assert got[2]["entropy"] == round(math.log(7), 6)
    assert got[2]["entropy"] == got[2]["max_entropy"]
    # doc 1: 'a b' x4 + 'b a' x3 of 7 -> entropy < ln 2 fully mixed? it
    # equals H(4/7, 3/7) < ln(2) and well under doc 2's
    assert got[1]["entropy"] < got[2]["entropy"]
    assert got[1]["max_entropy"] == round(math.log(2), 6)
    assert got[3]["n_bigrams"] == 0 and got[3]["entropy"] is None


def test_gone_quiet_windows(spark):
    from nsdb_spark.operators import analytics

    day = 86_400_000
    rows = [
        (1, 100 * day),   # active recently -> excluded
        (2, 80 * day),    # quiet 20d, inside the active window -> listed
        (3, 10 * day),    # dead for 90d, outside the window -> excluded
    ]
    df = spark.createDataFrame(rows, "u long, t long")
    got = analytics.gone_quiet(
        df, now_ms=100 * day, silent_ms=15 * day,
        active_window_ms=50 * day, user="u", ts="t",
    ).collect()
    assert [r["u"] for r in got] == [2]
    assert got[0]["silent_ms_actual"] == 20 * day


def test_audience_overlap_hand_computed(spark):
    from nsdb_spark.operators import analytics

    rows = [
        (1, "A"), (2, "A"), (3, "A"),
        (1, "B"), (2, "B"),
        (9, "C"),
        (1, "A"),  # duplicate event: distinct collapse handles it
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    got = {(r["type_a"], r["type_b"]): r for r in
           analytics.audience_overlap(df).collect()}
    assert got[("A", "B")]["n_both"] == 2
    assert got[("A", "B")]["jaccard"] == round(2 / 3, 6)
    assert ("A", "C") not in got   # zero overlap pairs absent


def test_time_split_embargo_boundaries(spark):
    from nsdb_spark.operators import sampling

    rows = [(i, t) for i, t in enumerate([50, 99, 100, 149, 150, 200])]
    df = spark.createDataFrame(rows, "id long, t long")
    got = {r["id"]: r["split"] for r in sampling.time_split_embargo(
        df, "id", "t", split_ms=100, embargo_ms=50).collect()}
    # t < 100 -> train; 100 <= t < 150 -> dropped; t >= 150 -> test
    assert got == {0: "train", 1: "train", 4: "test", 5: "test"}


def test_wilcoxon_signed_rank_matches_bruteforce(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(109)
    x = rng.normal(10, 2, 120).round(1)
    y = (x + rng.normal(0.5, 1.0, 120)).round(1)   # positive shift
    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(x, y))]
    df = spark.createDataFrame(rows, "s long, x double, y double")
    got = analytics.wilcoxon_signed_rank(df, "s", "x", "y").collect()[0]
    d = y - x
    d = d[d != 0]
    ad = np.abs(d)
    order = np.argsort(ad, kind="stable")
    ranks = np.empty(len(ad))
    sv = ad[order]
    i = 0
    while i < len(sv):
        j = i
        while j < len(sv) and sv[j] == sv[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0
        i = j
    wp = float(ranks[d > 0].sum())
    m = len(d)
    mu = m * (m + 1) / 4.0
    sig = (m * (m + 1) * (2 * m + 1) / 24.0) ** 0.5
    assert got["m"] == m
    assert abs(got["w_plus"] - wp) < 1e-6
    assert abs(got["z_stat"] - (wp - mu) / sig) < 1e-5
    assert got["z_stat"] > 2   # true positive shift


def test_cohen_kappa_perfect_and_chance(spark):
    from nsdb_spark.operators import analytics

    perfect = spark.createDataFrame(
        [("a", "a")] * 6 + [("b", "b")] * 4, "ra string, rb string"
    )
    got = analytics.cohen_kappa(perfect, "ra", "rb").collect()[0]
    assert got["kappa"] == 1.0 and got["p_o"] == 1.0
    # rater B constant: p_e equals A's marginal share of 'a'; kappa 0
    const = spark.createDataFrame(
        [("a", "a")] * 6 + [("b", "a")] * 4, "ra string, rb string"
    )
    r2 = analytics.cohen_kappa(const, "ra", "rb").collect()[0]
    assert r2["p_o"] == 0.6 and r2["p_e"] == 0.6 and r2["kappa"] == 0.0


def test_burstiness_regular_vs_bursty(spark):
    from nsdb_spark.operators import tsa

    regular = [(1, i * 100) for i in range(50)]          # constant gaps
    bursty = [(2, t) for t in
              [0, 1, 2, 3, 1000, 1001, 1002, 5000, 5001, 9000]]
    df = spark.createDataFrame(regular + bursty, "user_id long, timestamp long")
    got = {r["user_id"]: r for r in tsa.burstiness(df).collect()}
    assert got[1]["b"] == -1.0                            # sigma = 0
    assert got[2]["b"] > 0.2
    assert got[1]["mean_gap"] == 100.0
    # single event -> no gaps -> excluded
    single = spark.createDataFrame([(3, 5)], "user_id long, timestamp long")
    assert tsa.burstiness(single).count() == 0


def test_pr_curve_perfect_separator(spark):
    from nsdb_spark.operators import analytics

    rows = [(0.9, True)] * 10 + [(0.2, False)] * 30
    df = spark.createDataFrame(rows, "s double, y boolean")
    got = {r["tau"]: r for r in analytics.pr_curve(
        df, "s", "y", taus=(0.1, 0.5, 0.95)).collect()}
    # tau 0.5 separates perfectly
    assert got[0.5]["tp"] == 10 and got[0.5]["fp"] == 0
    assert got[0.5]["precision"] == 1.0 and got[0.5]["recall"] == 1.0
    assert got[0.5]["f1"] == 1.0
    # tau 0.1 predicts everything positive
    assert got[0.1]["precision"] == 0.25 and got[0.1]["recall"] == 1.0
    # tau 0.95 predicts nothing: precision NULL, recall 0
    assert got[0.95]["precision"] is None and got[0.95]["recall"] == 0.0


def test_theil_index_equal_vs_concentrated(spark):
    import math
    from nsdb_spark.operators import analytics

    rows = (
        [("eq", 10.0)] * 8
        + [("con", 100.0)] + [("con", 1e-9)] * 7   # near-total concentration
        + [("dr", 5.0), ("dr", -1.0), ("dr", 0.0)]  # non-positive drops
    )
    df = spark.createDataFrame(rows, "g string, x double")
    got = {r["g"]: r for r in
           analytics.theil_index_by_group(df, "g", "x").collect()}
    assert got["eq"]["theil"] == 0.0 and got["eq"]["theil_norm"] == 0.0
    # concentrated group approaches ln(n) = ln(8)
    assert got["con"]["theil"] > 0.9 * math.log(8)
    assert got["con"]["theil_norm"] > 0.9
    assert got["dr"]["n"] == 1 and got["dr"]["n_dropped"] == 2


def test_growth_accounting_new_vs_returning(spark):
    from nsdb_spark.operators import analytics

    wk = 604_800_000
    rows = [
        (1, 0), (2, 0),               # week 0: both new
        (1, wk), (3, wk),             # week 1: 1 returns, 3 new
        (1, 2 * wk), (2, 2 * wk), (3, 2 * wk),  # week 2: all returning
        (1, 2 * wk + 5),              # duplicate activity same week
    ]
    df = spark.createDataFrame(rows, "user_id long, timestamp long")
    got = {r["bucket_start"]: r for r in
           analytics.growth_accounting(df).collect()}
    assert got[0]["n_new"] == 2 and got[0]["n_returning"] == 0
    assert got[wk]["n_new"] == 1 and got[wk]["n_returning"] == 1
    assert got[2 * wk]["n_active"] == 3
    assert got[2 * wk]["n_new"] == 0 and got[2 * wk]["n_returning"] == 3


def test_fisher_z_corr_diff_detects_flip(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(113)
    x = rng.normal(0, 1, 300)
    rows = [("a", float(v), float(v * 2 + rng.normal(0, 0.5))) for v in x]
    rows += [("b", float(v), float(-v * 2 + rng.normal(0, 0.5)))
             for v in rng.normal(0, 1, 300)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = analytics.fisher_z_corr_diff(df, "g", "a", "b", "x", "y").collect()[0]
    assert got["r_a"] > 0.9 and got["r_b"] < -0.9
    assert got["z_stat"] > 10
    # identical relationship: z near 0
    same = [("a", float(v), float(v + rng.normal(0, 1))) for v in x] + [
        ("b", float(v), float(v + rng.normal(0, 1)))
        for v in rng.normal(0, 1, 300)
    ]
    df2 = spark.createDataFrame(same, "g string, x double, y double")
    r2 = analytics.fisher_z_corr_diff(df2, "g", "a", "b", "x", "y").collect()[0]
    assert abs(r2["z_stat"]) < 3


def test_fisher_z_corr_diff_degenerate_groups_null_not_error(spark):
    """ADVICE round-4: exactly-collinear group gives r=±1 (atanh pole)
    and a 3-row group gives 1/(n-3) = 1/0 — both must yield NULL, not
    an ANSI DIVIDE_BY_ZERO that kills the query."""
    from nsdb_spark.operators import analytics

    # group a: 2-row exactly collinear (r = 1); group b: healthy
    rows = [("a", 0.0, 0.0), ("a", 2.0, 4.0)] + [
        ("b", float(i), float(i * (-1) ** i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = analytics.fisher_z_corr_diff(df, "g", "a", "b", "x", "y").collect()[0]
    assert got["r_a"] == 1.0
    assert got["z_stat"] is None  # atanh(1) undefined -> NULL propagates

    # exactly-3-row groups: Fisher z undefined below n=4 -> NULL, no error
    tri = [("a", float(i), float(2 * i + (i == 2))) for i in range(3)] + [
        ("b", float(i), float(3 - i + (i == 1))) for i in range(3)
    ]
    df3 = spark.createDataFrame(tri, "g string, x double, y double")
    r3 = analytics.fisher_z_corr_diff(df3, "g", "a", "b", "x", "y").collect()[0]
    assert r3["n_a"] == 3 and r3["n_b"] == 3
    assert r3["z_stat"] is None


def test_effective_dimension_isotropic_vs_collapsed(spark):
    import numpy as np
    from nsdb_spark.operators import similarity

    rng = np.random.RandomState(127)
    iso = rng.normal(0, 1, (300, 16)).astype("float32")
    # collapsed: dimension 0 carries almost everything
    col = rng.normal(0, 1, (300, 16)).astype("float32") * 0.05
    col[:, 0] = rng.normal(0, 5, 300)
    di = spark.createDataFrame(
        [(i, [float(v) for v in iso[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    dc = spark.createDataFrame(
        [(i, [float(v) for v in col[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    ri = similarity.effective_dimension(di).collect()[0]
    rc = similarity.effective_dimension(dc).collect()[0]
    assert ri["dim"] == 16 and ri["n_vectors"] == 300
    assert ri["pr_dim"] > 14           # near-isotropic
    assert rc["pr_dim"] < 2            # one dominant direction
    assert rc["var_top"] > 0.9 * rc["var_total"]


def test_time_in_state_attribution(spark):
    from nsdb_spark.operators import analytics

    rows = [
        # user 1: A(0) -> B(100) -> A(300) -> end: A holds 0-100 and
        # 300-end(no successor), B holds 100-300
        (1, 0, 1, "A"), (1, 100, 2, "B"), (1, 300, 3, "A"),
        # user 2: B(0) -> B(50): B holds 50
        (2, 0, 4, "B"), (2, 50, 5, "B"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, timestamp long, event_id long, event_type string"
    )
    got = {r["event_type"]: r for r in
           analytics.time_in_state(df).collect()}
    assert got["A"]["total_ms"] == 100 and got["A"]["n_intervals"] == 1
    assert got["B"]["total_ms"] == 250 and got["B"]["n_intervals"] == 2
    assert got["A"]["share"] == round(100 / 350, 6)


def test_duplicate_family_sizes_hand_computed(spark):
    from nsdb_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "aaa"),      # family of 3
         (4, "bbb"), (5, "bbb"),                  # family of 2
         (6, "ccc"), (7, None)],                  # singleton; NULL drops
        "doc_id long, text string",
    )
    got = {r["family_size"]: r for r in
           dedup.duplicate_family_sizes(docs).collect()}
    assert got[3]["n_families"] == 1 and got[3]["n_excess"] == 2
    assert got[2]["n_families"] == 1 and got[2]["n_docs"] == 2
    assert got[1]["n_families"] == 1 and got[1]["n_excess"] == 0
    assert sum(r["n_docs"] for r in got.values()) == 6


def test_load_factor_peak_and_ties(spark):
    from nsdb_spark.operators import analytics

    hr = 3_600_000
    rows = (
        [("A", 10)] * 4                       # bucket 0: 4 events
        + [("A", hr + 5)] * 2                 # bucket 1: 2
        + [("A", 3 * hr)] * 4                 # bucket 3: 4 (tie with 0)
        + [("B", 5)]                          # single bucket
    )
    df = spark.createDataFrame(
        [(t, ts) for t, ts in rows], "event_type string, timestamp long"
    )
    got = {r["event_type"]: r for r in
           analytics.load_factor(df, bucket_ms=hr).collect()}
    a = got["A"]
    assert a["n_buckets"] == 3 and a["peak_count"] == 4
    assert a["peak_bucket"] == 0            # tie -> earliest bucket
    assert abs(a["load_factor"] - 4 / (10 / 3)) < 1e-6
    assert got["B"]["load_factor"] == 1.0


def test_running_records_census(spark):
    from nsdb_spark.operators import analytics

    # values 3, 5, 5, 4, 7: records at 3, 5, 7 (tie at 5 is NOT a record)
    rows = [(1, t, t, v) for t, v in
            enumerate([3.0, 5.0, 5.0, 4.0, 7.0])]
    df = spark.createDataFrame(
        rows, "user_id long, timestamp long, event_id long, value double"
    )
    got = analytics.running_records(
        df, "user_id", "timestamp", "value", "event_id"
    ).collect()[0]
    assert got["n"] == 5 and got["n_records"] == 3
    assert got["best"] == 7.0 and got["best_ts"] == 4
    # monotone decreasing: only the first observation is a record
    dn = spark.createDataFrame(
        [(2, t, t, float(9 - t)) for t in range(5)],
        "user_id long, timestamp long, event_id long, value double",
    )
    r2 = analytics.running_records(
        dn, "user_id", "timestamp", "value", "event_id"
    ).collect()[0]
    assert r2["n_records"] == 1 and r2["best_ts"] == 0


def test_bland_altman_hand_computed(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(131)
    a = rng.normal(50, 5, 200)
    b = a + 2.0 + rng.normal(0, 1, 200)   # constant bias 2, sd 1
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(a, b))]
    df = spark.createDataFrame(rows, "s long, x double, y double")
    got = analytics.bland_altman(df, "s", "x", "y").collect()[0]
    d = b - a
    assert got["n"] == 200
    assert abs(got["bias"] - d.mean()) < 1e-5
    sd = d.std(ddof=1)
    assert abs(got["loa_low"] - (d.mean() - 1.959963984540054 * sd)) < 1e-4
    assert abs(got["loa_high"] - (d.mean() + 1.959963984540054 * sd)) < 1e-4
    # ~5% of subjects fall outside the 95% limits
    assert 0 <= got["n_outside"] <= 25


def test_pythagorean_means_ordering(spark):
    import math
    from nsdb_spark.operators import analytics

    rows = [("g", 1.0), ("g", 4.0), ("g", 16.0), ("g", -2.0), ("g", 0.0)]
    df = spark.createDataFrame(rows, "p string, x double")
    got = analytics.pythagorean_means(df, "p", "x").collect()[0]
    assert got["n"] == 3 and got["n_dropped"] == 2
    assert got["am"] == 7.0
    assert got["gm"] == round(math.exp(
        (math.log(1) + math.log(4) + math.log(16)) / 3), 6)
    assert got["hm"] == round(3 / (1 + 0.25 + 1 / 16), 6)
    assert got["hm"] < got["gm"] < got["am"]
    # constant data: all three equal
    c = spark.createDataFrame([("g", 5.0)] * 4, "p string, x double")
    r = analytics.pythagorean_means(c, "p", "x").collect()[0]
    assert r["am"] == r["gm"] == r["hm"] == 5.0


def test_group_moment_rollup_matches_direct(spark):
    import numpy as np
    from nsdb_spark.operators import rollup

    rng = np.random.RandomState(137)
    rows = [("a", float(v)) for v in rng.exponential(2, 500)] + [
        ("b", float(v)) for v in rng.normal(0, 1, 500)
    ]
    df = spark.createDataFrame(rows, "event_type string, value double")
    served = {r["event_type"]: r for r in
              rollup.group_skew_from_moment_rollup(
                  rollup.build_group_moment_rollup(df, "event_type"),
                  "event_type").collect()}
    for g, vals in (("a", [v for k, v in rows if k == "a"]),
                    ("b", [v for k, v in rows if k == "b"])):
        x = np.array(vals)
        d = x - x.mean()
        m2 = (d**2).mean()
        sk = (d**3).mean() / m2**1.5
        ku = (d**4).mean() / m2**2 - 3
        assert abs(served[g]["skewness"] - sk) < 1e-4
        assert abs(served[g]["ex_kurtosis"] - ku) < 1e-3
    assert served["a"]["skewness"] > 1.0      # exponential is skewed
    assert abs(served["b"]["skewness"]) < 0.3


def test_eta_squared_determined_vs_independent(spark):
    from nsdb_spark.operators import analytics

    # value fully determined by category -> eta^2 == 1
    det = spark.createDataFrame(
        [("a", 1.0)] * 5 + [("b", 9.0)] * 5, "g string, v double"
    )
    assert analytics.eta_squared(det, "g", "v").collect()[0][
        "eta_sq"
    ] == 1.0
    # identical distributions across groups -> eta^2 == 0
    ind = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 1.0), ("b", 3.0)],
        "g string, v double",
    )
    r = analytics.eta_squared(ind, "g", "v").collect()[0]
    assert r["eta_sq"] == 0.0 and r["k"] == 2 and r["n"] == 4
    # constant data: undefined -> NULL
    c = spark.createDataFrame([("a", 2.0), ("b", 2.0)], "g string, v double")
    assert analytics.eta_squared(c, "g", "v").collect()[0][
        "eta_sq"
    ] is None


def test_hourly_profile_shares(spark):
    from nsdb_spark.operators import analytics

    hr = 3_600_000
    rows = [("A", 2 * hr)] * 3 + [("A", 5 * hr + 17)] * 1 + [("B", 0)] * 2
    df = spark.createDataFrame(rows, "event_type string, timestamp long")
    got = {(r["event_type"], r["hour"]): r for r in
           analytics.hourly_profile(df).collect()}
    assert got[("A", 2)]["n"] == 3 and got[("A", 2)]["share"] == 0.75
    assert got[("A", 5)]["share"] == 0.25
    assert got[("B", 0)]["share"] == 1.0


def test_hamming_knn_join_full_shortlist_matches_exact(spark):
    import numpy as np
    from nsdb_spark.operators import similarity

    rng = np.random.RandomState(139)
    vecs = rng.normal(0, 1, (50, 64)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    qs = [(i, [float(x) for x in vecs[i]]) for i in range(3)]
    # shortlist >= corpus: identical to the exact batch join
    got = similarity.hamming_knn_join(df, qs, k=5, shortlist=50).collect()
    exact = similarity.cosine_topk_join(df, qs, k=5).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted([(r["query_id"], r["rank"], r["vec_id"]) for r in got]) == \
        sorted([(r["query_id"], r["rank"], r["vec_id"]) for r in exact])
    # narrow shortlist still returns k rows per query, self at rank 1
    got2 = similarity.hamming_knn_join(df, qs, k=5, shortlist=10).collect()
    per = {}
    for r in got2:
        per.setdefault(r["query_id"], []).append(r)
    for qid in (0, 1, 2):
        assert len(per[qid]) == 5
        top = min(per[qid], key=lambda r: r["rank"])
        assert top["vec_id"] == qid
    # empty query set -> empty typed frame
    assert similarity.hamming_knn_join(df, [], k=5).count() == 0


def test_process_capability_centered_vs_shifted(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(149)
    centered = rng.normal(50, 5, 1000)      # limits [20, 80]: Cpk ~ 2
    shifted = rng.normal(70, 5, 1000)       # same spread, off-center
    rows = [("c", float(v)) for v in centered] + [
        ("s", float(v)) for v in shifted
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    got = {r["g"]: r for r in analytics.process_capability(
        df, "g", "x", lsl=20.0, usl=80.0).collect()}
    assert got["c"]["cpk"] > 1.5 and got["c"]["in_spec_share"] == 1.0
    # off-centering: cp stays ~2 but cpk collapses toward (80-70)/15
    assert abs(got["s"]["cp"] - got["c"]["cp"]) < 0.4
    assert got["s"]["cpk"] < 0.9
    # constant group -> NULL indices
    const = spark.createDataFrame([("k", 5.0)] * 4, "g string, x double")
    assert analytics.process_capability(
        const, "g", "x", 0.0, 10.0).collect()[0]["cpk"] is None


def test_wow_growth_hand_computed(spark):
    from nsdb_spark.operators import analytics

    wk = 604_800_000
    rows = [("A", 10)] * 4 + [("A", wk + 3)] * 6 + [("A", 2 * wk)] * 3
    df = spark.createDataFrame(rows, "event_type string, timestamp long")
    got = {r["bucket_start"]: r for r in
           analytics.wow_growth(df).collect()}
    assert got[0]["prev_n"] is None and got[0]["growth_pct"] is None
    assert got[wk]["growth_pct"] == 50.0
    assert got[2 * wk]["growth_pct"] == -50.0


def test_avg_neighbor_degree_star(spark):
    from nsdb_spark.operators import graph

    # star: hub degree 4, leaves degree 1
    edges = [("h", f"l{i}") for i in range(4)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["degree"]: r for r in
           graph.avg_neighbor_degree(df).collect()}
    # leaves (deg 1) neighbor only the hub (deg 4); hub neighbors leaves
    assert got[1]["n_nodes"] == 4 and got[1]["avg_neighbor_degree"] == 4.0
    assert got[4]["n_nodes"] == 1 and got[4]["avg_neighbor_degree"] == 1.0


def test_kpss_matches_numpy_bruteforce(spark):
    import numpy as np
    from nsdb_spark.operators import tsa

    rng = np.random.RandomState(151)
    x = np.cumsum(rng.normal(0, 1, 250)) * 0.2 + rng.normal(0, 1, 250)
    rows = [("k", i, i, float(v)) for i, v in enumerate(x)]
    df = spark.createDataFrame(
        rows, "event_type string, timestamp long, event_id long, value double"
    )
    q = 4
    got = tsa.kpss_stat(df, q=q, ts="timestamp").collect()[0]
    # independent implementation of the KPSS level statistic
    e = x - x.mean()
    s = np.cumsum(e)
    n = len(x)
    g0 = float((e**2).sum())
    lrv = g0
    for j in range(1, q + 1):
        lrv += 2.0 * (1.0 - j / (q + 1.0)) * float((e[j:] * e[:-j]).sum())
    lrv /= n
    eta = float((s**2).sum()) / (n * n) / lrv
    assert got["n"] == n
    assert abs(got["kpss_stat"] - eta) < 1e-5


def test_pii_scrub_positive_cases(spark):
    """The synthetic corpus carries no PII, so the registry oracle only
    proves no false positives — this pins the positive path."""
    rows = [
        (1, "contact john.doe+spam@example.co.uk or call 555-123-4567 now"),
        (2, "see https://example.com/a?b=1 and account 123456789012"),
        (3, "clean text with digits 1234 only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.pii_scrub(df).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert out[2]["n_url"] == 1 and out[2]["n_long_digits"] == 1
    assert (
        out[3]["n_email"] == out[3]["n_phone"] == out[3]["n_url"]
        == out[3]["n_long_digits"] == 0
    )
    # masks actually replace the match (digest must differ from raw md5)
    raw = {r["doc_id"]: r[0] for r in df.select(F.md5("text"), "doc_id").collect()}
    assert out[1]["scrub_digest"] != raw[1]
    assert out[3]["scrub_digest"] == raw[3]


def test_readability_flesch_known_value(spark):
    from nsdb_spark.operators.text import readability

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!")], "doc_id long, text string"
    )
    got = readability(df).collect()[0]
    # 6 words, 2 sentences, 6 vowel groups
    assert got["n_words"] == 6 and got["n_sentences"] == 2
    assert got["n_syllables"] == 6
    expected = 206.835 - 1.015 * 3.0 - 84.6 * 1.0
    assert abs(got["flesch"] - expected) < 1e-6


def test_log_rank_identical_groups_chi2_zero(spark):
    """Two groups with IDENTICAL duration multisets → O = E, chi2 = 0."""
    from nsdb_spark.operators import analytics

    rows = [(float(d), True) for d in (5, 10, 15, 20)] + [
        (float(d), False) for d in (5, 10, 15, 20)
    ]
    df = spark.createDataFrame(rows, "dur double, grp boolean")
    got = analytics.log_rank_test(df, group="grp", time_col="dur").collect()[0]
    assert got["n1"] == 4 and got["n2"] == 4
    assert got["chi2"] == 0.0


def test_attribution_touch_bookends(spark):
    from nsdb_spark.operators import analytics

    rows = [
        # user 1: click → view → purchase → view (post-conv ignored)
        (1, "click", 10, 1), (1, "view", 20, 2),
        (1, "purchase", 30, 3), (1, "view", 40, 4),
        # user 2: view only AFTER purchase → no credit at all
        (2, "purchase", 10, 5), (2, "view", 20, 6),
        # user 3: single touch is both first and last
        (3, "error", 5, 7), (3, "purchase", 9, 8),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, timestamp long, event_id long"
    )
    got = {r["channel"]: r for r in analytics.attribution_touch(df).collect()}
    assert got["click"]["n_first_touch"] == 1
    assert got["view"]["n_last_touch"] == 1
    assert got["error"]["n_first_touch"] == 1
    assert got["error"]["n_last_touch"] == 1
    assert "purchase" not in got


def test_cronbach_alpha_perfect_consistency(spark):
    """Items that are identical copies → alpha exactly 1."""
    from nsdb_spark.operators import analytics

    rows = [(float(v), float(v)) for v in (1, 2, 3, 4, 5)]
    df = spark.createDataFrame(rows, "a double, b double")
    got = analytics.cronbach_alpha(df, items=["a", "b"]).collect()[0]
    assert got["alpha"] == 1.0


def test_hurst_random_walk_near_one(spark):
    """A cumulative random walk is strongly persistent: H well above
    the 0.5 white-noise line (and the pure-noise series lands lower)."""
    import numpy as np
    from nsdb_spark.operators import tsa

    rng = np.random.RandomState(7)
    steps = rng.normal(0, 1, 512)
    walk = np.cumsum(steps)
    rows = [("walk", i * 3_600_000, float(v)) for i, v in enumerate(walk)]
    rows += [("noise", i * 3_600_000, float(v)) for i, v in enumerate(steps)]
    df = spark.createDataFrame(
        rows, "event_type string, timestamp long, value double"
    )
    got = {r["event_type"]: r["hurst"] for r in tsa.hurst_rs(
        df, windows=(8, 16, 32, 64)
    ).collect()}
    assert got["walk"] > 0.8
    assert got["noise"] < got["walk"] - 0.2


def test_multimodal_codec_injection_seams(spark):
    """A real codec plugs in through the decoder/resizer/frame_sampler
    callables without touching the Arrow plumbing; the default stub path
    is unchanged (same digests the mm_* oracles pin). The fakes are
    nested so cloudpickle ships them by value (a pytest module isn't
    importable on executors)."""
    import hashlib

    from nsdb_spark.operators import multimodal

    def _fake_decoder(payload):
        return len(payload), 640, 480, "jpeg"

    def _fake_resizer(payload, w, h):
        return bytes(payload)[::-1][: w * h]  # reversed crop — distinguishable

    def _fake_frame_walk(payload, frame_bytes, every):
        b = bytes(payload)
        return [(0, b[:frame_bytes])] if b else []  # keyframe-only walk

    docs = spark.createDataFrame(
        [(1, "payload-one"), (2, "p2")], "doc_id long, text string"
    )
    b = multimodal.attach_binary(docs)

    dec = {r["doc_id"]: r for r in
           multimodal.decode_metadata(b, decoder=_fake_decoder).collect()}
    assert dec[1]["width"] == 640 and dec[1]["format"] == "jpeg"
    assert dec[1]["n_bytes"] == len("payload-one")

    rz = {r["doc_id"]: r for r in
          multimodal.resize_media(b, 2, 2, resizer=_fake_resizer).collect()}
    assert rz[1]["out_bytes"] == 4
    assert rz[1]["payload_digest"] == hashlib.md5(
        b"payload-one"[::-1][:4]).hexdigest()

    fr = multimodal.sample_frames(
        b, frame_bytes=4, every=1, frame_sampler=_fake_frame_walk
    ).collect()
    assert sorted((r["doc_id"], r["frame_idx"]) for r in fr) == [(1, 0), (2, 0)]

    # stub path identical with and without explicit default
    d_default = multimodal.decode_metadata(b).collect()
    d_explicit = multimodal.decode_metadata(b, decoder=None).collect()
    assert sorted(map(tuple, d_default)) == sorted(map(tuple, d_explicit))


def test_codec_seam_carries_a_real_ppm_codec(spark):
    """End-to-end proof the injection seams carry REAL codecs, not just
    deterministic fakes: a pure-Python PPM (P6) parser decodes actual
    image headers on executors, a real nearest-neighbor resampler
    produces a verifiable resized raster, and a frame walk splits real
    concatenated frames — with the digest oracle tracking the injected
    codec's output byte-for-byte."""
    import hashlib

    from nsdb_spark.operators import multimodal

    def ppm_encode(w, h, pix):  # pix: [(r, g, b)] row-major
        return b"P6\n%d %d\n255\n" % (w, h) + bytes(
            c for p in pix for c in p
        )

    def ppm_decode(payload):
        # a real parse: magic + dims from the header, not length arithmetic
        raw = bytes(payload)
        if raw[:2] != b"P6":
            raise ValueError("not a P6 PPM")
        dims = raw.split(b"\n", 3)[1].split()
        return len(raw), int(dims[0]), int(dims[1]), "ppm"

    def ppm_resize(payload, tw, th):
        raw = bytes(payload)
        head, dims, _maxval, raster = raw.split(b"\n", 3)
        w, h = map(int, dims.split())
        out = bytearray()
        for y in range(th):
            sy = y * h // th
            for x in range(tw):
                sx = x * w // tw
                i = 3 * (sy * w + sx)
                out += raster[i : i + 3]
        return b"P6\n%d %d\n255\n" % (tw, th) + bytes(out)

    img1 = ppm_encode(4, 2, [(x * 60, y * 100, 7) for y in range(2) for x in range(4)])
    img2 = ppm_encode(2, 2, [(255, 0, 0)] * 4)
    df = spark.createDataFrame(
        [(1, bytearray(img1)), (2, bytearray(img2))], "doc_id long, payload binary"
    )

    dec = {r["doc_id"]: r for r in
           multimodal.decode_metadata(df, decoder=ppm_decode).collect()}
    assert (dec[1]["width"], dec[1]["height"], dec[1]["format"]) == (4, 2, "ppm")
    assert (dec[2]["width"], dec[2]["height"]) == (2, 2)
    assert dec[1]["n_bytes"] == len(img1)

    rz = {r["doc_id"]: r for r in
          multimodal.resize_media(df, 2, 1, resizer=ppm_resize).collect()}
    expected = ppm_resize(img1, 2, 1)
    assert rz[1]["out_bytes"] == len(expected)
    assert rz[1]["payload_digest"] == hashlib.md5(expected).hexdigest()
    # and the resized bytes are themselves a decodable 2x1 PPM
    assert ppm_decode(expected) == (len(expected), 2, 1, "ppm")

    # frame sampler: payload = two concatenated equal-size PPM frames
    frame_len = len(img2)

    def ppm_frame_walk(payload, frame_bytes, every):
        raw = bytes(payload)
        frames = [
            (i // frame_len, raw[i : i + frame_len])
            for i in range(0, len(raw), frame_len)
        ]
        return frames[::every]

    fdf = spark.createDataFrame(
        [(3, bytearray(img2 + img2))], "doc_id long, payload binary"
    )
    fr = multimodal.sample_frames(
        fdf, frame_bytes=frame_len, every=1, frame_sampler=ppm_frame_walk
    ).collect()
    want = hashlib.md5(img2).hexdigest()
    assert sorted((r["frame_idx"], r["frame_digest"]) for r in fr) == [
        (0, want), (1, want),
    ]


def test_profiling_with_dirty_data(spark):
    """The registry oracles run on clean TPC-H tables (zero nulls/dups/
    orphans); this exercises the non-trivial counts."""
    from nsdb_spark.operators import profiling

    dirty = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, None), (3, "a"), (None, "c")],
        "k long, v string",
    )
    prof = {r["col_name"]: r for r in
            profiling.column_profile(dirty, ["k", "v"]).collect()}
    assert prof["k"]["n_rows"] == 5 and prof["k"]["n_nulls"] == 1
    assert prof["k"]["n_distinct"] == 3  # NULL excluded
    assert prof["v"]["n_nulls"] == 1 and prof["v"]["n_distinct"] == 3
    assert abs(prof["k"]["null_frac"] - 0.2) < 1e-9

    pk = profiling.pk_duplicates([("t", dirty, "k")]).collect()[0]
    # keys: 1 (x2), 2, 3, NULL(x1 as its own group)
    assert pk["n_rows"] == 5 and pk["n_dup_keys"] == 1
    assert pk["n_dup_rows"] == 2 and pk["max_multiplicity"] == 2

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    fk = profiling.fk_orphans([("c->p", child, "fk", parent, "pk")]).collect()[0]
    assert fk["n_child"] == 4 and fk["n_null_fk"] == 1 and fk["n_orphans"] == 1
    assert abs(fk["orphan_frac"] - 0.25) < 1e-9


def test_profiling_daily_gap_and_moments(spark):
    from nsdb_spark.operators import profiling

    ev = spark.createDataFrame(
        [("2024-01-01 10:00:00",), ("2024-01-01 11:00:00",),
         ("2024-01-04 09:00:00",)],
        "ts string",
    ).select(F.to_timestamp("ts").alias("ts"))
    rows = profiling.daily_completeness(ev, "ts").collect()
    assert [r["day"] for r in rows] == [
        "2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"
    ]
    assert [r["n_rows"] for r in rows] == [2, 0, 0, 1]
    assert rows[0]["n_empty_days"] == 2 and rows[0]["n_days_span"] == 4

    vals = spark.createDataFrame([(float(x),) for x in [1, 2, 3, 4]], "x double")
    m = profiling.numeric_moments(vals, ["x"]).collect()[0]
    assert m["n_values"] == 4 and abs(m["mean"] - 2.5) < 1e-9
    import math
    assert abs(m["std_pop"] - math.sqrt(1.25)) < 1e-6
    assert abs(m["skewness"]) < 1e-9  # symmetric


def test_chunk_sliding_and_vocab_coverage(spark):
    from nsdb_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y"), (3, "")],
        "doc_id long, text string",
    )
    ch = text_ops.chunk_sliding(docs, chunk_tokens=4, stride=3).collect()
    by = {}
    for r in ch:
        by.setdefault(r["doc_id"], []).append(r)
    # doc 1: 7 tokens → starts 0,3,6; window 4 truncated at the end
    assert [(r["start_tok"], r["n_tok"]) for r in by[1]] == [(0, 4), (3, 4), (6, 1)]
    # doc 2: 2 tokens → one truncated chunk
    assert [(r["start_tok"], r["n_tok"]) for r in by[2]] == [(0, 2)]
    # doc 3: split("") = [""] (1 empty token) — one degenerate chunk, not a crash
    assert len(by.get(3, [])) == 1

    cov = {r["doc_id"]: r for r in
           text_ops.vocab_coverage(docs, vocab_size=3).collect()}
    # vocab = top-3 by (freq desc, term asc): all terms freq 1 → a, b, c
    assert cov[1]["n_tokens"] == 7 and cov[1]["n_oov"] == 4
    assert cov[2]["n_oov"] == 2  # x, y out of vocab
    assert 3 not in cov  # empty-token doc filtered out


def test_fdr_bh_null_p_ranks_last_never_rejected(spark):
    """A 1-row group has undefined variance → NULL z/p: it must rank LAST
    (matching DuckDB's ASC NULLS LAST) and never be rejected, instead of
    (Spark's default NULLS FIRST) taking rank 1 and shifting every BH
    threshold."""
    from nsdb_spark.operators import analytics

    rows = (
        [("a", float(v)) for v in range(100)]
        + [("b", float(v) + 500) for v in range(100)]
        + [("lonely", 42.0)]
    )
    df = spark.createDataFrame(rows, "grp string, value double")
    out = analytics.fdr_bh(df, "value", "grp", q=0.10).collect()
    by = {r["grp"]: r for r in out}
    assert by["lonely"]["p_value"] is None
    assert by["lonely"]["p_rank"] == 3  # last of m=3
    assert by["lonely"]["rejected"] is False
    assert by["b"]["rejected"] is True  # the +500 shift is unmissable


def test_fdr_by_and_holm_relations(spark):
    """Cross-procedure invariants on the same scored family: BY is
    uniformly more conservative than BH (thresholds divided by c(m) ≥ 1,
    so BY's rejections ⊆ BH's); Holm's NULL-p stop rule — a 1-row group
    fails by definition, stopping the step-down there, and every rank
    before the stop is rejected."""
    from nsdb_spark.operators import analytics

    rows = (
        [("a", float(v)) for v in range(100)]
        + [("b", float(v) + 500) for v in range(100)]
        + [("c", float(v) + 498) for v in range(100)]
        + [("lonely", 42.0)]
    )
    df = spark.createDataFrame(rows, "grp string, value double")
    bh = {r["grp"]: r for r in analytics.fdr_bh(df, "value", "grp").collect()}
    by = {r["grp"]: r for r in analytics.fdr_by(df, "value", "grp").collect()}
    hm = {r["grp"]: r for r in
          analytics.holm_bonferroni(df, "value", "grp").collect()}
    for g in bh:
        # identical family: same z/p/rank across all three procedures
        assert bh[g]["p_rank"] == by[g]["p_rank"] == hm[g]["p_rank"]
        # BY ⊆ BH (c(m) ≥ 1 shrinks every threshold)
        assert not (by[g]["rejected"] and not bh[g]["rejected"])
        assert by[g]["by_threshold"] <= bh[g]["bh_threshold"]
    # holm: NULL p fails by definition and everything after it survives
    assert hm["lonely"]["p_value"] is None
    assert hm["lonely"]["rejected"] is False
    m = len(hm)
    stop = min(
        (r["p_rank"] for r in hm.values()
         if r["p_value"] is None or r["p_value"] > r["holm_threshold"]),
        default=m + 1,
    )
    for r in hm.values():
        assert r["rejected"] == (r["p_rank"] < stop)
    assert hm["b"]["rejected"] is True and hm["c"]["rejected"] is True


def test_page_trend_known_values(spark):
    """Hand-computed Page's L: 2 complete days, 3 treatments with counts
    1/2/3 aligned with lexicographic order every day → perfect trend:
    L = 2·(1·1 + 2·2 + 3·3) = 28, E[L] = b·k(k+1)²/4 = 24,
    Var = b·k²(k+1)(k²−1)/144 = 4 → z = 2. An incomplete day (one
    treatment missing) must be EXCLUDED, leaving the stats unchanged."""
    from nsdb_spark.operators import analytics

    day = 86_400_000
    rows = []
    for d in (0, 1):
        rows += [(d * day + i, "a") for i in range(1)]
        rows += [(d * day + 100 + i, "b") for i in range(2)]
        rows += [(d * day + 200 + i, "c") for i in range(3)]
    # day 2 is incomplete: no "c" rows → dropped from the layout
    rows += [(2 * day + 1, "a"), (2 * day + 2, "b")]
    df = spark.createDataFrame(rows, "timestamp long, event_type string")
    out = analytics.page_trend(df).collect()[0]
    assert (out["b"], out["k"], out["l_stat"]) == (2, 3, 28)
    assert out["z"] == 2.0

    # reversed trend on one day pulls L below the perfect 28
    rows2 = [r for r in rows if r[0] < 2 * day]
    rows2 += [(1 * day + 300 + i, "a") for i in range(10)]  # a now largest
    df2 = spark.createDataFrame(rows2, "timestamp long, event_type string")
    out2 = analytics.page_trend(df2).collect()[0]
    assert out2["l_stat"] < 28 and out2["z"] < 2.0


def test_cohort_ltv_triangle(spark):
    from nsdb_spark.operators import analytics

    wk = 604800000
    rows = [
        # user 1 joins week 0, spends 10 then 20; user 2 joins week 0,
        # spends 30 in week 1; user 3 joins week 1, spends 5
        (0 * wk + 1, 1, 10.0), (1 * wk + 1, 1, 20.0),
        (0 * wk + 2, 2, 0.0), (1 * wk + 2, 2, 30.0),
        (1 * wk + 3, 3, 5.0),
    ]
    df = spark.createDataFrame(rows, "timestamp long, user_id long, value double")
    out = {(r["cohort"], r["week_index"]): r for r in
           analytics.cohort_ltv(df).collect()}
    assert out[(0, 0)]["cohort_users"] == 2
    assert out[(0, 0)]["period_value"] == 10.0
    assert out[(0, 1)]["period_value"] == 50.0
    assert abs(out[(0, 1)]["cum_value_per_user"] - 30.0) < 1e-9  # 60 / 2
    assert out[(1, 0)]["cohort_users"] == 1 and out[(1, 0)]["period_value"] == 5.0


def test_prefix_duplicates_and_norm_profile(spark):
    from nsdb_spark.operators import dedup as dd
    from nsdb_spark.operators import similarity as sim

    docs = spark.createDataFrame(
        [(1, "The Quick brown fox jumps over the lazy dog end one"),
         (2, "the quick BROWN fox jumps over the lazy dog different tail"),
         (3, "completely other text with no shared prefix at all here")],
        "doc_id long, text string",
    )
    out = dd.prefix_duplicates(docs, k_tokens=8).collect()
    assert len(out) == 1  # docs 1+2 share the lowercased 8-token prefix
    assert out[0]["n_docs"] == 2 and out[0]["keep_doc_id"] == 1
    assert out[0]["max_doc_id"] == 2

    emb = spark.createDataFrame(
        [(1, [3.0, 4.0], 0), (2, [0.6, 0.8], 0), (3, [1.0, 0.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    prof = {r["lbl"]: r for r in sim.norm_profile(emb).collect()}
    assert prof[0]["n_vecs"] == 2
    assert abs(prof[0]["max_norm"] - 5.0) < 1e-6
    assert abs(prof[0]["min_norm"] - 1.0) < 1e-6
    assert abs(prof[1]["mean_norm"] - 1.0) < 1e-6


def test_rolling_active_users_window(spark):
    from nsdb_spark.operators import analytics

    day = 86400000
    rows = [
        (0 * day + 5, 1), (0 * day + 6, 1),  # u1 active day 0 (dup collapses)
        (1 * day + 5, 2),                     # u2 day 1
        (9 * day + 5, 1),                     # u1 again day 9
    ]
    df = spark.createDataFrame(rows, "timestamp long, user_id long")
    out = {r["day"]: r["active_users"] for r in
           analytics.rolling_active_users(df, window_days=7).collect()}
    # day 0: {u1}=1; days 1-6: {u1,u2}=2; day 7: {u2}=1 (u1's day-0 window
    # ended); day 8: 0 absent (no contribution); day 9: {u1}=1
    assert out[0] == 1 and out[1] == 2 and out[6] == 2
    assert out[7] == 1 and out[9] == 1
    assert 8 not in out  # no spine fill — absent day means zero actives


def test_mantel_haenszel_matches_python_model(spark):
    from math import exp, log, sqrt

    from nsdb_spark.operators import analytics

    # two strata with OPPOSITE crude signal strength (the Simpson shape
    # MH exists for): cells (a, b, c, d) per stratum
    strata = {1: (2, 1, 1, 2), 2: (3, 2, 2, 3), 3: (1, 4, 2, 5)}
    rows = []
    for s, (a, b, c, d) in strata.items():
        rows += [(s, True, True)] * a + [(s, True, False)] * b
        rows += [(s, False, True)] * c + [(s, False, False)] * d
    df = spark.createDataFrame(rows, "s int, e boolean, o boolean")
    out = analytics.mantel_haenszel_2x2(df, "s", "e", "o").collect()[0]

    # independent pure-python fold of the textbook formulas
    rr = ss = ee = vv = pr = psqr = qs = 0.0
    sum_a = 0
    for a, b, c, d in strata.values():
        n = float(a + b + c + d)
        r_i, s_i = a * d / n, b * c / n
        p_i, q_i = (a + d) / n, (b + c) / n
        rr += r_i; ss += s_i; sum_a += a
        ee += (a + b) * (a + c) / n
        vv += ((a + b) * (c + d) / n) * ((a + c) * (b + d) / n) / (n - 1)
        pr += p_i * r_i; psqr += p_i * s_i + q_i * r_i; qs += q_i * s_i
    orm = rr / ss
    se = sqrt(pr / (2 * rr * rr) + psqr / (2 * rr * ss) + qs / (2 * ss * ss))
    z = analytics.WILSON_Z
    assert out["n_strata"] == 3 and out["sum_a"] == sum_a
    assert out["or_mh"] == round(orm, 6)
    assert out["ci_low"] == round(exp(log(orm) - z * se), 6)
    assert out["ci_high"] == round(exp(log(orm) + z * se), 6)
    assert out["chi2_mh"] == round((abs(sum_a - ee) - 0.5) ** 2 / vv, 6)


def test_yule_k_known_values(spark):
    from nsdb_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(1, "a", "x x y"), (2, "a", "y z"), (3, "b", "w w w w")],
        "doc_id long, source string, text string",
    )
    out = {r["source"]: r for r in tx.yule_k_by_source(docs).collect()}
    # source a: counts x=2 y=2 z=1 -> N=5, V=3, S2=9
    assert out["a"]["n_tokens"] == 5 and out["a"]["vocab"] == 3
    assert out["a"]["yule_k"] == round(1e4 * (9 - 5) / 25, 6) == 1600.0
    assert out["a"]["simpson_d"] == round((9 - 5) / 20.0, 6) == 0.2
    # source b: one type repeated 4x -> maximal repetitiveness, D = 1
    assert out["b"]["yule_k"] == round(1e4 * (16 - 4) / 16, 6) == 7500.0
    assert out["b"]["simpson_d"] == 1.0


def test_cochran_q_known_values(spark):
    from pyspark.sql import functions as F

    from nsdb_spark.operators import analytics

    # textbook 3x3 grid: responses b1=(1,1,0) b2=(1,0,0) b3=(1,1,1)
    # C=(3,2,1) T=6 sumC2=14 R=(2,1,3) sumR2=14
    # Q = (k-1)(k*sumC2 - T^2)/(kT - sumR2) = 2*(42-36)/(18-14) = 3.0
    rows = [
        ("b1", "t1", 5), ("b1", "t2", 5), ("b1", "t3", 0),
        ("b2", "t1", 5), ("b2", "t2", 0), ("b2", "t3", 0),
        ("b3", "t1", 5), ("b3", "t2", 5), ("b3", "t3", 5),
        # b4 appears ONLY under t1 and fails there: absent cells are
        # structural zeros, so Q is unchanged while n_blocks grows
        ("b4", "t1", 0),
        # duplicate row per cell collapses via max, and a NULL success
        # verdict counts as failure
        ("b1", "t1", 5), ("b4", "t1", None),
    ]
    df = spark.createDataFrame(rows, "b string, t string, v int")
    out = analytics.cochran_q(
        df, block="b", treatment="t", success=F.col("v") >= 1
    ).collect()[0]
    assert out["n_blocks"] == 4 and out["k"] == 3
    assert out["total_success"] == 6
    assert out["q_stat"] == 3.0


def test_session_depth_histogram_caps_and_shares(spark):
    from nsdb_spark.operators import temporal_join as tj

    rows = [("A", 0, 1), ("A", 100, 2),          # session depth 2
            ("A", 10_000, 3)]                    # new session, depth 1
    rows += [("B", i * 10, 100 + i) for i in range(25)]  # depth 25 -> cap
    df = spark.createDataFrame(rows, "u string, t long, id long")
    out = {r["depth"]: r for r in tj.session_depth_histogram(
        df, key="u", ts="t", gap_ms=1000, order_tie="id", cap=3
    ).collect()}
    assert set(out) == {1, 2, 3}
    assert all(out[d]["n_sessions"] == 1 for d in (1, 2, 3))
    assert out[1]["share"] == round(1 / 3, 6)


def test_acf_pacf_matches_python_model(spark):
    from nsdb_spark.operators import tsa

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0, 8.0]
    rows = [("g", i, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_type string, timestamp long, event_id long, value double"
    )
    out = {r["lag"]: r for r in tsa.acf_pacf(df).collect()}

    mean = sum(vals) / len(vals)
    dev = [v - mean for v in vals]
    den = sum(d * d for d in dev)
    r = {k: sum(dev[i] * dev[i - k] for i in range(k, len(dev))) / den
         for k in (1, 2, 3)}
    p2 = (r[2] - r[1] * r[1]) / (1 - r[1] * r[1])
    f21 = r[1] - p2 * r[1]
    p3 = (r[3] - f21 * r[2] - p2 * r[1]) / (1 - f21 * r[1] - p2 * r[2])
    assert out[1]["acf"] == round(r[1], 6) and out[1]["pacf"] == out[1]["acf"]
    assert out[2]["pacf"] == round(p2, 6)
    assert out[3]["pacf"] == round(p3, 6)

    # constant series: zero deviation -> every acf/pacf NULL, no error
    const = spark.createDataFrame(
        [("c", i, i, 7.0) for i in range(6)],
        "event_type string, timestamp long, event_id long, value double",
    )
    for row in tsa.acf_pacf(const).collect():
        assert row["acf"] is None and row["pacf"] is None


def test_explode_nonempty_call_sites_match_inner_explode(spark, monkeypatch):
    """The explode_nonempty/posexplode_nonempty contract (ADVICE r8): the
    helpers are explode_outer behind a caller-enforced non-empty promise,
    so a caller passing a nullable/possibly-empty array would silently
    gain a NULL row where explode dropped it. One representative operator
    per call-site family runs on degenerate input (NULL text, empty text,
    whitespace-only text) with the helpers as shipped and again with them
    swapped for the INNER explode; the row sets must be identical. A new
    call site that violates the contract fails here."""
    from nsdb_spark.operators import bpe, embeddings_gemm

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [0.1, 0.9])],
        "vec_id long, embedding array<double>",
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog the quick"),
            (2, None),
            (3, ""),
            (4, "   "),
            (5, "one two three four five six seven eight nine ten"),
            (6, "the quick brown fox jumps over the lazy dog the quick"),
        ],
        "doc_id long, text string",
    )
    cases = {
        "cdc_chunks": lambda: dedup.cdc_chunks(docs, k=4, mask=4),
        # banded simhash covers fingerprints + the bucket explode
        "simhash_pairs": lambda: dedup.simhash_pairs(
            docs, max_hamming=20, banded=True
        ),
        "decontaminate": lambda: dedup.decontaminate(
            docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0"), n=2
        ),
        "winnow_fingerprints": lambda: text.winnow_fingerprints(
            docs, k=3, w=2
        ),
        "top_bigrams": lambda: text.top_bigrams(docs, k=5),
        "bpe_train": lambda: bpe.bpe_train(docs, num_merges=5)[1],
        # the block-pair replication explode (a literal-length array)
        "embedding_cosine_pairs_gemm": lambda: (
            embeddings_gemm.embedding_cosine_pairs_gemm(
                emb, threshold=0.5, num_blocks=2
            )
        ),
    }

    def rows(df):
        return sorted(map(tuple, df.collect()))

    shipped = {name: rows(fn()) for name, fn in cases.items()}

    # swap in the inner explodes everywhere the helpers are consumed
    monkeypatch.setattr(dedup, "explode_nonempty", F.explode)
    monkeypatch.setattr(dedup, "posexplode_nonempty", F.posexplode)
    monkeypatch.setattr(text, "_explode_nonempty", F.explode)
    monkeypatch.setattr(bpe, "_explode_nonempty", F.explode)

    for name, fn in cases.items():
        assert rows(fn()) == shipped[name], name
