"""The operators release what they pin (operators/rounds.py): Spark's
CacheManager holds none of their frames once they return or raise, and a
frame or table the caller cached stays cached."""
from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException, SparkRuntimeException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nsdb_spark.operators import analytics, bpe, clustering, dedup, graph, pq, selection, text

MH_INDEX, PQ_INDEX = "rounds_mh_idx", "rounds_ivfpq_idx"
#: a job that reads a `_boom` row fails with the row's error, or with
#: SparkException STAGE_MATERIALIZATION_MULTIPLE_FAILURES when several
#: concurrent stages read one
JOB_FAILED = (SparkRuntimeException, Py4JJavaError)
CENTROIDS = [[0.0, 0.0, 1.0, 1.0], [4.0, 4.0, 0.0, 1.0]]


def _boom(c: str, where: str):
    """Column `c`, raising on the rows matching `where`. The raise fires
    when a Spark job reads such a row, so after the operator has pinned."""
    return F.when(F.expr(where), F.raise_error(F.lit("boom"))).otherwise(F.col(c))


def _inputs(spark):
    docs = spark.createDataFrame(
        [
            (1, "a", "the quick brown fox jumps over the lazy dog again and again"),
            (2, "a", "the quick brown fox jumps over the lazy dog again and more"),
            (3, "b", "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
            (4, "b", "the quick brown fox jumps over the lazy dog again and again"),
        ],
        "doc_id long, source string, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 2) * 4 + 0.1 * i, float(i % 2) * 4, 1.0 - i % 2, 1.0]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    return SimpleNamespace(
        spark=spark,
        edges=spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 6)], "src long, dst long"
        ),
        nodes=spark.createDataFrame([(i,) for i in range(8)], "node long"),
        no_node_col=spark.createDataFrame([(1,)], "x long"),
        # a 6-node chain: min-label propagation needs 5 rounds
        pairs=spark.createDataFrame([(i, i + 1) for i in range(5)], "doc_a long, doc_b long"),
        docs=spark.createDataFrame([(i,) for i in range(7)], "doc_id long"),
        text=spark.createDataFrame(
            [("low lower lowest newer newest",), ("new newer wider low",)], "text string"
        ),
        corpus=docs,
        bad_corpus=docs.withColumn("text", _boom("text", "doc_id = 3")),
        emb=emb,
        bad_emb=emb.withColumn("vec_id", _boom("vec_id", "vec_id = 5")),
        events=spark.createDataFrame(
            [(u, t * 86_400_000) for u in range(4) for t in range(u, 6)],
            "user_id long, timestamp long",
        ),
    )


def _minhash_incremental(f, is_new):
    dedup.write_minhash_index(f.corpus, MH_INDEX)
    try:
        return dedup.minhash_incremental_pairs(f.spark, MH_INDEX, is_new)
    finally:
        f.spark.sql(f"DROP TABLE IF EXISTS {MH_INDEX}")


def _write_ivfpq(emb):
    try:
        return pq.write_ivfpq_index(emb, PQ_INDEX, CENTROIDS, m=2, ks=4, iters=1)
    finally:
        emb.sparkSession.sql(f"DROP TABLE IF EXISTS {PQ_INDEX}")


def _text_case(op, **kw):
    """A text or pair operator: it returns on the corpus and raises on a
    corpus whose text column raises on one row."""
    return (
        lambda f: op(f.corpus, **kw),
        JOB_FAILED, lambda f: op(f.bad_corpus, **kw),
    )


def _emb_case(op, **kw):
    return (
        lambda f: op(f.emb, **kw),
        JOB_FAILED, lambda f: op(f.bad_emb, **kw),
    )


#: name -> (returning call, exception, raising call)
CASES = {
    "pagerank": (
        lambda f: graph.pagerank(f.edges, f.nodes, iters=2),
        AnalysisException, lambda f: graph.pagerank(f.edges, f.no_node_col),
    ),
    "label_propagation": (
        lambda f: graph.label_propagation(f.edges, f.nodes, iters=2),
        AnalysisException, lambda f: graph.label_propagation(f.edges, f.no_node_col),
    ),
    "katz_centrality": (
        lambda f: graph.katz_centrality(f.edges, f.nodes, iters=2),
        AnalysisException, lambda f: graph.katz_centrality(f.edges, f.no_node_col),
    ),
    "hits_scores": (
        lambda f: graph.hits_scores(f.edges, iters=2),
        ValueError, lambda f: graph.hits_scores(f.edges.filter("src < 0")),
    ),
    "kcore_peel": (
        lambda f: graph.kcore_peel(f.edges, k=2, rounds=2),
        AnalysisException, lambda f: graph.kcore_peel(f.edges, src="x"),
    ),
    "bfs_hops": (
        lambda f: graph.bfs_hops(f.edges, 0, rounds=2),
        # the source's type is checked after the edge layout is pinned
        TypeError, lambda f: graph.bfs_hops(f.edges, "x"),
    ),
    "connected_components": (
        lambda f: dedup.connected_components(f.pairs, f.docs),
        RuntimeError, lambda f: dedup.connected_components(f.pairs, f.docs, max_iter=1),
    ),
    "connected_components_alternating": (
        lambda f: dedup.connected_components_alternating(f.pairs, f.docs),
        RuntimeError,
        lambda f: dedup.connected_components_alternating(f.pairs, f.docs, max_iter=1),
    ),
    "bpe_train": (
        lambda f: bpe.bpe_train(f.text, num_merges=3)[1],
        AnalysisException, lambda f: bpe.bpe_train(f.text, text_col="x"),
    ),
    "passage_dup_stats": _text_case(dedup.passage_dup_stats, k=4),
    "scrub_duplicate_passages": _text_case(dedup.scrub_duplicate_passages, k=4),
    "ngram_jaccard_pairs": _text_case(dedup.ngram_jaccard_pairs),
    "containment_pairs": _text_case(dedup.containment_pairs),
    "cdc_shared_pairs": _text_case(
        dedup.cdc_shared_pairs, k=4, mask=4, min_chunk_len=1, min_shared=1
    ),
    "minhash_lsh_pairs": _text_case(dedup.minhash_lsh_pairs),
    "simhash_pairs": _text_case(dedup.simhash_pairs, banded=True),
    "embedding_cosine_pairs": _emb_case(dedup.embedding_cosine_pairs, threshold=0.5),
    "embedding_srp_pairs": _emb_case(dedup.embedding_srp_pairs, threshold=0.5),
    "minhash_incremental_pairs": (
        lambda f: _minhash_incremental(f, F.col("doc_id") >= 2),
        JOB_FAILED,
        lambda f: _minhash_incremental(f, _boom("doc_id", "doc_id = 3") >= 2),
    ),
    "lm_logprob": _text_case(text.lm_logprob),
    "ngram_novelty": _text_case(text.ngram_novelty),
    "bigram_pmi": _text_case(text.bigram_pmi, k=3, min_count=1),
    "js_divergence_by_group": _text_case(text.js_divergence_by_group),
    "lm_bigram_logprob": _text_case(text.lm_bigram_logprob),
    "dsir_weights": _text_case(lambda d: selection.dsir_weights(d, F.col("source") == "a")),
    "decontaminate_fuzzy": (
        lambda f: selection.decontaminate_fuzzy(f.corpus, f.corpus.filter("doc_id = 1")),
        JOB_FAILED,
        lambda f: selection.decontaminate_fuzzy(f.bad_corpus, f.corpus.filter("doc_id = 1")),
    ),
    "write_ivfpq_index": (
        lambda f: _write_ivfpq(f.emb), JOB_FAILED, lambda f: _write_ivfpq(f.bad_emb),
    ),
    "ivfpq_search": _emb_case(
        pq.ivfpq_search, query_vec=[4.0, 4.0, 0.0, 1.0], centroids=CENTROIDS,
        k=3, nprobe=2, m=2, ks=4, iters=1,
    ),
    "kmeans_fit": _emb_case(clustering.kmeans_fit, k=2, iters=2),
    "active_users": (
        lambda f: analytics.active_users(f.events, 86_400_000, window_buckets=3),
        JOB_FAILED,
        lambda f: analytics.active_users(
            f.events.withColumn("user_id", _boom("user_id", "user_id = 2")), 86_400_000
        ),
    ),
    "chi2_independence": _text_case(analytics.chi2_independence, x="source", y="text"),
    "basket_pair_lift": _text_case(
        analytics.basket_pair_lift, basket="source", item="text", min_pairs=1
    ),
}


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


@pytest.mark.parametrize("name", sorted(CASES))
def test_iterative_operator_releases_pins_on_return_and_raise(spark, name):
    ok, exc, bad = CASES[name]
    f = _inputs(spark)
    spark.catalog.clearCache()
    out = ok(f)
    assert _cache_manager(spark).isEmpty()
    assert (out.count() if isinstance(out, DataFrame) else len(out)) > 0
    with pytest.raises(exc):
        bad(f)
    assert _cache_manager(spark).isEmpty()


@pytest.mark.parametrize(
    "name",
    ["pagerank", "label_propagation", "katz_centrality", "connected_components",
     "minhash_incremental_pairs"],
)
def test_iterative_operator_keeps_callers_cache(spark, name):
    f = _inputs(spark)
    spark.catalog.clearCache()
    if name == "minhash_incremental_pairs":
        dedup.write_minhash_index(f.corpus, MH_INDEX)
        spark.catalog.cacheTable(MH_INDEX)
        try:
            dedup.minhash_incremental_pairs(spark, MH_INDEX, F.col("doc_id") >= 2).collect()
            assert spark.catalog.isCached(MH_INDEX)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {MH_INDEX}")
        return
    if name == "connected_components":
        cached = f.docs.persist()
        call = lambda: dedup.connected_components(f.pairs, cached)  # noqa: E731
    else:
        cached = f.nodes.persist()
        call = lambda: getattr(graph, name)(f.edges, cached, iters=2)  # noqa: E731
    level = cached.storageLevel
    call().collect()
    try:
        assert cached.storageLevel == level
        assert not _cache_manager(spark).isEmpty()
    finally:
        cached.unpersist()
