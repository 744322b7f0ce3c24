"""The iterative operators release what they pin (operators/rounds.py):
Spark's CacheManager holds none of their frames once they return or
raise, and a frame the caller cached stays cached."""
from types import SimpleNamespace

import pytest
from pyspark.errors import AnalysisException

from nsdb_spark.operators import bpe, dedup, graph


def _inputs(spark):
    return SimpleNamespace(
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
    assert out.count() > 0
    with pytest.raises(exc):
        bad(f)
    assert _cache_manager(spark).isEmpty()


@pytest.mark.parametrize(
    "name", ["pagerank", "label_propagation", "katz_centrality", "connected_components"]
)
def test_iterative_operator_keeps_callers_cache(spark, name):
    f = _inputs(spark)
    spark.catalog.clearCache()
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
