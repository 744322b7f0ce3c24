"""Property-based tests (hypothesis) — beyond the reference's example-based
suites: the parser never crashes un-typed, and temporal bucketing matches an
independent model for arbitrary data/interval choices."""
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nsdb_spark.sql.errors import SQLParseError, StatementValidationError
from nsdb_spark.sql.parser import parse


# ---------------------------------------------------------------- parser fuzz


@given(st.text(max_size=80))
@settings(max_examples=300, deadline=None)
def test_parser_never_crashes_untyped(s):
    """Arbitrary input either parses or raises SQLParseError — never any
    other exception type (the HTTP 400 mapping depends on this)."""
    try:
        parse(s)
    except SQLParseError:
        pass


@given(
    metric=st.from_regex(r"[A-Za-z][A-Za-z0-9_]{0,10}", fullmatch=True),
    limit=st.integers(min_value=1, max_value=10**6),
    ts=st.integers(min_value=0, max_value=2**60),
    desc=st.booleans(),
)
@settings(max_examples=100, deadline=None)
def test_roundtrip_simple_select_shape(metric, limit, ts, desc):
    """Generated valid SELECTs parse into the expected AST fields."""
    order = "desc" if desc else ""
    stmt = parse(
        f"select * from {metric} where timestamp >= {ts} "
        f"order by timestamp {order} limit {limit}"
    )
    assert stmt.metric == metric
    assert stmt.limit.value == limit
    assert stmt.order.descending is desc
    assert stmt.condition.expression.value.value == ts


# ------------------------------------------------------------- bucket model


@pytest.fixture(scope="module")
def bucket_engine_factory(spark):
    import tempfile

    from nsdb_spark.engine import NsdbEngine
    from nsdb_spark.model import Bit

    def make(timestamps, shard_interval):
        eng = NsdbEngine(spark, tempfile.mkdtemp(prefix="wh_prop_"))
        eng.warehouse.init_metric("default", "default", "pm", shard_interval)
        eng.insert_bits(
            "default", "default", "pm",
            [Bit(t, 1, {}, {"k": "a"}) for t in timestamps],
        )
        return eng

    return make


@given(
    data=st.lists(
        st.integers(min_value=0, max_value=10**6), min_size=1, max_size=12, unique=True
    ),
    interval_s=st.integers(min_value=1, max_value=400),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_temporal_count_matches_python_model(bucket_engine_factory, data, interval_s):
    """Backward-aligned bucket counts == an independent pure-python model
    (SURVEY.md §4.3 semantics: axis from shard bounds, first bucket
    truncated, empty buckets zero-filled)."""
    shard_interval = 100_000
    interval = interval_s * 1000
    eng = bucket_engine_factory(data, shard_interval)
    out = eng.execute(f"select count(*) from pm group by interval {interval_s}s")
    got = [(r[0], r[1], r[3]) for r in out.collect()]  # (ub, lb, count)

    lower = (min(data) // shard_interval) * shard_interval
    upper = (max(data) // shard_interval) * shard_interval + shard_interval
    n = -((upper - lower) // -interval)
    model = []
    for k in range(n - 1, -1, -1):
        ub = upper - k * interval
        lb = max(upper - (k + 1) * interval, lower)
        cnt = sum(
            1
            for t in data
            if min((upper - t) // interval, n - 1) == k
        )
        model.append((ub, lb, cnt))
    assert got == model
    assert sum(c for _, _, c in got) == len(data)


# --------------------------------------------------------------- cdc tiling


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=200,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cdc_chunks_always_tile_exactly(spark, texts):
    """For ANY printable-ASCII corpus, a document's CDC chunks tile it
    exactly: start at 1, lengths sum to len(text), no gaps/overlaps —
    the invariant downstream shared-chunk joins rely on."""
    from nsdb_spark.operators import dedup

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    by_doc = {}
    for r in dedup.cdc_chunks(docs).collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, t in enumerate(texts):
        rows = sorted(by_doc.get(d, []), key=lambda r: r["chunk_idx"])
        if len(t) == 0:
            assert rows == []
            continue
        assert rows[0]["start"] == 1
        pos = 1
        for r in rows:
            assert r["start"] == pos  # contiguous, no gap/overlap
            pos += r["length"]
        assert pos == len(t) + 1


@given(
    corpora=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),  # source
            st.integers(min_value=1, max_value=12),  # token count
        ),
        min_size=1,
        max_size=30,
    ),
    alpha=st.sampled_from([0.0, 0.3, 0.5, 1.0]),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_domain_mixture_invariants(spark, corpora, alpha):
    """For ANY multi-source corpus and temperature: copy indexes are
    dense per doc, rates are uniform within a source, alpha=1 is the
    identity mixture (every rate exactly 1 → exactly one copy of every
    doc), and expected emitted tokens equal the budget."""
    from nsdb_spark.operators import selection

    rows = [
        (i, " ".join(["w"] * n), src) for i, (src, n) in enumerate(corpora)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = selection.domain_mixture(docs, alpha=alpha).collect()
    by_doc, rate_by_source = {}, {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["copy_idx"])
        rate_by_source.setdefault(r["source"], set()).add(r["rate"])
    for idxs in by_doc.values():
        assert sorted(idxs) == list(range(1, len(idxs) + 1))
    for rates in rate_by_source.values():
        assert len(rates) == 1
    if alpha == 1.0:
        # tokens^1 weighting reproduces the corpus exactly once
        assert sorted(by_doc) == [r[0] for r in rows]
        assert all(idxs == [1] for idxs in by_doc.values())


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=30),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_quality_lr_permutation_invariant_and_bounded(spark, texts):
    """The LR score is a bag-of-words mean: permuting a document's
    tokens never changes it, and the logit is always within the weight
    range [-1, 1]."""
    from nsdb_spark.operators import selection

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    shuffled = spark.createDataFrame(
        [(i, " ".join(reversed(t.split(" ")))) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    a = {r["doc_id"]: (r["logit_milli"], r["n_tokens"])
         for r in selection.quality_score_lr(docs).collect()}
    b = {r["doc_id"]: (r["logit_milli"], r["n_tokens"])
         for r in selection.quality_score_lr(shuffled).collect()}
    assert a == b
    for lm, n in a.values():
        assert -1000 * n <= lm <= 1000 * n


@given(
    intervals=st.lists(
        st.tuples(st.integers(0, 200), st.integers(0, 60)),  # (start, span)
        min_size=0,
        max_size=15,
    ),
    points=st.lists(st.integers(0, 260), min_size=0, max_size=20),
    bucket=st.sampled_from([1, 7, 16, 64]),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_interval_join_matches_bruteforce_any_bucket(spark, intervals, points, bucket):
    """For ANY interval set, point set, and cell size, the bucketed
    rewrite returns exactly the BETWEEN-join pairs."""
    from nsdb_spark.operators import temporal_join

    iv = spark.createDataFrame(
        [(i, s, s + sp) for i, (s, sp) in enumerate(intervals)] or [(99, 1, 0)],
        "iv_id long, s long, e long",
    )
    pts = spark.createDataFrame(
        [(i, t) for i, t in enumerate(points)] or [(99, -1)],
        "pt_id long, t long",
    )
    got = {
        (r["pt_id"], r["iv_id"])
        for r in temporal_join.interval_join(pts, iv, "t", "s", "e", bucket).collect()
    }
    expect = {
        (pi, ii)
        for pi, t in ((i, t) for i, t in enumerate(points)) or []
        for ii, (s, sp) in enumerate(intervals)
        if s <= t <= s + sp
    }
    if not points:
        expect = set()
    assert got == expect


@given(
    texts=st.lists(
        st.lists(st.sampled_from("ab"), min_size=1, max_size=12).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=8,
    ),
    k=st.sampled_from([1, 2, 3]),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_passage_scrub_matches_python_model(spark, texts, k):
    """For ANY corpus and window size: counts and reassembled text match
    an independent Python model, and exactly ONE occurrence of every
    distinct passage survives corpus-wide (nothing lost, repeats gone)."""
    import hashlib

    from nsdb_spark.operators import dedup

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in
           dedup.scrub_duplicate_passages(docs, k=k).collect()}

    # python model
    windows = {}   # doc -> [passage...]
    first = {}     # passage -> (doc, pos)
    counts = {}
    for d, t in enumerate(texts):
        ws = t.split(" ")
        ps = [" ".join(ws[i:i + k]) for i in range(0, len(ws), k)]
        windows[d] = ps
        for pos, p in enumerate(ps):
            counts[p] = counts.get(p, 0) + 1
            first.setdefault(p, (d, pos))
    total_kept = 0
    for d, ps in windows.items():
        kept = [p for pos, p in enumerate(ps)
                if counts[p] == 1 or first[p] == (d, pos)]
        clean = " ".join(kept)
        r = got[d]
        assert r["n_kept"] == len(kept)
        assert r["n_removed"] == len(ps) - len(kept)
        assert r["clean_digest"] == hashlib.md5(clean.encode()).hexdigest()
        total_kept += len(kept)
    # the survival invariant: one copy per distinct passage, corpus-wide
    assert total_kept == len(counts)


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd"]), min_size=1,
                 max_size=10).map(lambda ws: " ".join(ws)),
        min_size=1,
        max_size=8,
    ),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_jsd_bounds_and_single_group_zero(spark, texts):
    """JSD is always within [0, 1] (base-2), and a corpus with ONE group
    has p == q exactly, so its divergence is exactly 0."""
    from nsdb_spark.operators import text as text_ops

    one = spark.createDataFrame(
        [(i, t, "only") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    rows = text_ops.js_divergence_by_group(one, "source").collect()
    assert len(rows) == 1 and rows[0]["jsd"] == 0.0

    # alternate groups: still bounded
    alt = spark.createDataFrame(
        [(i, t, f"g{i % 2}") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    for r in text_ops.js_divergence_by_group(alt, "source").collect():
        assert 0.0 <= r["jsd"] <= 1.0


@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=1, max_size=30,
    ),
    period=st.sampled_from([2, 3, 5]),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_seasonal_adjust_preserves_the_mean(spark, vals, period):
    """Additive de-seasonalization must not move the key's mean: the
    count-weighted mean of the per-phase means IS the grand mean, so
    mean(adjusted) == mean(value) for any series and period."""
    from nsdb_spark.operators import tsa

    df = spark.createDataFrame(
        [(i, "k", i, float(v)) for i, v in enumerate(vals)],
        "event_id long, event_type string, timestamp long, value double",
    )
    out = tsa.seasonal_adjust(
        df, period_ms=period, bucket_ms=1, key="event_type"
    ).collect()
    got = sum(r["adjusted"] for r in out) / len(out)
    want = sum(vals) / len(vals)
    assert abs(got - want) < 1e-3   # rounding grain is 1e-4 per row


@given(
    vecs=st.lists(
        st.tuples(
            st.floats(min_value=-4, max_value=4, allow_nan=False),
            st.floats(min_value=-4, max_value=4, allow_nan=False),
            st.floats(min_value=-4, max_value=4, allow_nan=False),
        ).filter(lambda v: sum(x * x for x in v) > 1e-6),
        min_size=2, max_size=10,
    ),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_label_diversity_matches_bruteforce(spark, vecs):
    """The ||Σu||² − n closed form equals the brute-force mean pairwise
    cosine for ANY nonzero vector set (one label)."""
    import math

    from nsdb_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, list(v), 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>, label int",
    )
    got = similarity.label_diversity(df).collect()[0]

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    us = [unit(v) for v in vecs]
    n = len(us)
    dots = [
        sum(a * b for a, b in zip(us[i], us[j]))
        for i in range(n) for j in range(n) if i != j
    ]
    want = sum(dots) / (n * (n - 1))
    assert abs(got["mean_pairwise_cos"] - want) < 1e-5


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=500), min_size=2, max_size=40
    ),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_gini_matches_bruteforce_rank_form(spark, vals):
    """The range-partitioned tie-grouped rank machinery equals the
    textbook sorted-rank formula for ANY non-negative integer list
    (one group) — including all-equal (G = 0) and heavy-tie inputs."""
    from nsdb_spark.operators import analytics

    df = spark.createDataFrame(
        [("g", float(v)) for v in vals], "g string, v double"
    )
    got = analytics.gini_by_group(df, "g", "v", scale=1).collect()[0]
    xs = sorted(vals)
    n = len(xs)
    s = sum(xs)
    if s == 0:
        assert got["gini"] is None  # 0/0: undefined, reported as NULL
        return
    want = 2 * sum((i + 1) * x for i, x in enumerate(xs)) / (n * s) \
        - (n + 1) / n
    assert abs(got["gini"] - want) < 1e-6


@given(
    vals=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=2, max_size=25
    ),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_changepoint_matches_bruteforce_argmax(spark, vals):
    """A(t)²/(n·n1·n2) equals the brute-force between-segment sum of
    squares at every split, and the chosen split is the argmax with
    earliest-split tie-breaking, for ANY integer series."""
    from nsdb_spark.operators import tsa

    df = spark.createDataFrame(
        [("k", i, i, float(v)) for i, v in enumerate(vals)],
        "event_type string, timestamp long, event_id long, value double",
    )
    got = tsa.changepoint_single(df, scale=1).collect()[0]
    n = len(vals)
    m = sum(vals) / n
    best_rn, best_score = None, None
    for t in range(1, n):
        m1 = sum(vals[:t]) / t
        m2 = sum(vals[t:]) / (n - t)
        score = t * (m1 - m) ** 2 + (n - t) * (m2 - m) ** 2
        if best_score is None or score > best_score + 1e-12:
            best_rn, best_score = t, score
    assert got["split_rn"] == best_rn
    assert abs(got["score"] - best_score) < 1e-5
    assert abs(got["mean_left"] - sum(vals[:best_rn]) / best_rn) < 1e-5


@given(
    vecs=st.lists(
        st.tuples(
            st.floats(min_value=-4, max_value=4, allow_nan=False),
            st.floats(min_value=-4, max_value=4, allow_nan=False),
        ).filter(lambda v: sum(x * x for x in v) > 1e-4),
        min_size=3, max_size=8,
    ),
    lam=st.sampled_from([0.3, 0.5, 0.7]),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_mmr_matches_bruteforce_greedy(spark, vecs, lam):
    """The two-stage MMR (distributed shortlist + driver greedy) equals
    a pure-Python greedy over the same rounded scores for ANY vector
    set and lambda."""
    import math

    from nsdb_spark.operators import similarity

    q = [1.0, 0.5]
    df = spark.createDataFrame(
        [(i, list(v)) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    k = 3
    got = similarity.mmr_topk(df, q, k=k, shortlist=len(vecs), lam=lam).collect()

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return round(sum(x * y for x, y in zip(a, b)) / (na * nb), 6)

    cand = [(i, list(v), cos(v, q)) for i, v in enumerate(vecs)]
    sel = []
    while cand and len(sel) < k:
        scored = [
            (lam * rel - (1 - lam) * max(
                (cos(v, sv) for _, sv, _ in sel), default=0.0), vid, v, rel)
            for vid, v, rel in cand
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        s, vid, v, rel = scored[0]
        sel.append((vid, v, rel))
        cand = [c for c in cand if c[0] != vid]
    assert [r["vec_id"] for r in got] == [vid for vid, _, _ in sel]


@given(
    baskets=st.lists(
        st.lists(st.integers(min_value=0, max_value=6), min_size=1,
                 max_size=5),
        min_size=1, max_size=12,
    ),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_basket_lift_matches_bruteforce(spark, baskets):
    """Pair counts / support / confidence / lift equal brute-force
    set-based counting for ANY basket collection (duplicates inside a
    basket must not double-count)."""
    from itertools import combinations

    from nsdb_spark.operators import analytics

    rows = [(bi, it) for bi, b in enumerate(baskets) for it in b]
    df = spark.createDataFrame(rows, "basket long, item long")
    got = {(r["item_a"], r["item_b"]): r for r in
           analytics.basket_pair_lift(df, "basket", "item", min_pairs=1)
           .collect()}
    sets = [set(b) for b in baskets]
    nb = len(sets)
    items = sorted({i for s in sets for i in s})
    cnt = {i: sum(1 for s in sets if i in s) for i in items}
    want = {}
    for a, b in combinations(items, 2):
        np_ = sum(1 for s in sets if a in s and b in s)
        if np_ >= 1:
            want[(a, b)] = np_
    assert set(got) == set(want)
    for (a, b), np_ in want.items():
        r = got[(a, b)]
        assert r["n_pairs"] == np_
        assert abs(r["support"] - np_ / nb) < 1e-6
        assert abs(r["confidence"] - np_ / cnt[a]) < 1e-6
        assert abs(r["lift"] - np_ * nb / (cnt[a] * cnt[b])) < 1e-6


# ------------------------------------------- rank-statistic invariances


@given(
    a=st.lists(st.integers(min_value=-50, max_value=50), min_size=5,
               max_size=25),
    b=st.lists(st.integers(min_value=-50, max_value=50), min_size=5,
               max_size=25),
    scale=st.integers(min_value=1, max_value=9),
    shift=st.integers(min_value=-100, max_value=100),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rank_tests_invariant_under_monotone_transform(
    spark, a, b, scale, shift
):
    """MWU, KS, and CvM depend only on the pooled ordering, so any
    strictly increasing transform (here affine with positive slope)
    must leave them exactly unchanged — a property no single
    example-based test pins."""
    from nsdb_spark.operators import analytics

    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    tows = [
        (g, float(scale) * v + float(shift)) for g, v in rows
    ]
    df1 = spark.createDataFrame(rows, "g string, v double")
    df2 = spark.createDataFrame(tows, "g string, v double")
    for fn, col in (
        (analytics.mannwhitney_u, "u_a"),
        (analytics.ks_two_sample, "ks_stat"),
        (analytics.cvm_two_sample, "cvm_stat"),
    ):
        r1 = fn(df1, "v", "g", "a", "b").collect()[0][col]
        r2 = fn(df2, "v", "g", "a", "b").collect()[0][col]
        assert r1 == r2, (fn.__name__, r1, r2)


@given(
    a=st.lists(st.integers(min_value=-40, max_value=40), min_size=4,
               max_size=20),
    b=st.lists(st.integers(min_value=-40, max_value=40), min_size=4,
               max_size=20),
    scale=st.integers(min_value=1, max_value=7),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_wasserstein_scales_linearly(spark, a, b, scale):
    """W1 is a distance in the value's own units: scaling both samples
    by c scales W1 by exactly c (up to the 6-dp output rounding)."""
    from nsdb_spark.operators import analytics

    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df1 = spark.createDataFrame(rows, "g string, v double")
    df2 = spark.createDataFrame(
        [(g, v * scale) for g, v in rows], "g string, v double"
    )
    w1 = analytics.wasserstein_1d(df1, "v", "g", "a", "b").collect()[0][
        "w1_dist"
    ]
    w2 = analytics.wasserstein_1d(df2, "v", "g", "a", "b").collect()[0][
        "w1_dist"
    ]
    assert abs(w2 - scale * w1) < 5e-6


@given(
    pos=st.lists(st.integers(min_value=0, max_value=100), min_size=3,
                 max_size=20),
    neg=st.lists(st.integers(min_value=0, max_value=100), min_size=3,
                 max_size=20),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_auc_complement_symmetry(spark, pos, neg):
    """Flipping the labels maps AUC to 1 − AUC exactly (midrank tie
    handling makes this an identity, not an approximation)."""
    from nsdb_spark.operators import analytics

    rows = [(float(v) / 100.0, True) for v in pos] + [
        (float(v) / 100.0, False) for v in neg
    ]
    df = spark.createDataFrame(rows, "s double, y boolean")
    flipped = spark.createDataFrame(
        [(s, not y) for s, y in rows], "s double, y boolean"
    )
    a1 = analytics.auc_rank(df, "s", "y").collect()[0]["auc"]
    a2 = analytics.auc_rank(flipped, "s", "y").collect()[0]["auc"]
    assert abs((a1 + a2) - 1.0) < 2e-6


def test_mann_kendall_matches_numpy_bruteforce(spark):
    """MK statistic/variance/z against a direct O(n²) numpy census —
    independent of both the Spark expressions and the DuckDB oracle."""
    import numpy as np
    from nsdb_spark.operators import tsa

    rng = np.random.RandomState(42)
    y = np.round(rng.normal(50, 10, 40), 6)
    rows = [("k", i * 86_400_000, float(v)) for i, v in enumerate(y)]
    df = spark.createDataFrame(
        rows, "event_type string, timestamp long, value double"
    )
    got = tsa.mann_kendall(df, bucket_ms=86_400_000).collect()[0]
    s = sum(
        np.sign(y[j] - y[i]) for i in range(len(y)) for j in range(i + 1, len(y))
    )
    n = len(y)
    _, counts = np.unique(y, return_counts=True)
    var = (n * (n - 1) * (2 * n + 5)
           - sum(t * (t - 1) * (2 * t + 5) for t in counts)) / 18.0
    z = (s - np.sign(s)) / np.sqrt(var) if s != 0 else 0.0
    assert got["s"] == int(s)
    assert abs(got["var_s"] - var) < 1e-4
    assert abs(got["z"] - z) < 1e-5


def test_jonckheere_matches_bruteforce(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(7)
    groups = [rng.randint(0, 8, 30) + g for g in (0, 2, 4)]  # rising trend
    rows = [
        (int(g), int(v)) for g, arr in enumerate(groups) for v in arr
    ]
    df = spark.createDataFrame(rows, "g int, y long")
    got = analytics.jonckheere_terpstra(df, "g", "y").collect()[0]
    jt = 0.0
    for a in range(3):
        for b in range(a + 1, 3):
            for xa in groups[a]:
                for xb in groups[b]:
                    jt += 1.0 if xa < xb else (0.5 if xa == xb else 0.0)
    sizes = [len(x) for x in groups]
    nn = sum(sizes)
    mean = (nn * nn - sum(s * s for s in sizes)) / 4.0
    var = (nn * nn * (2 * nn + 3)
           - sum(s * s * (2 * s + 3) for s in sizes)) / 72.0
    assert abs(got["jt"] - jt) < 1e-6
    assert abs(got["mean_jt"] - mean) < 1e-6
    assert abs(got["z"] - (jt - mean) / var ** 0.5) < 1e-5


def test_somers_d_matches_bruteforce(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(11)
    x = rng.randint(0, 5, 200)
    y = (x + rng.randint(0, 3, 200)) // 2
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(x, y)], "x int, y int"
    )
    got = analytics.somers_d(df, "x", "y").collect()[0]
    c = d = ty = 0
    for i in range(len(x)):
        for j in range(len(x)):
            if x[i] < x[j]:
                if y[i] < y[j]:
                    c += 1
                elif y[i] > y[j]:
                    d += 1
                else:
                    ty += 1
    assert got["concordant"] == c and got["discordant"] == d
    assert got["ties_y"] == ty
    assert abs(got["d_yx"] - (c - d) / (c + d + ty)) < 1e-6


def test_granger_f_matches_numpy_ols(spark):
    """The correlation-identity F must equal the textbook RSS-based F
    computed with numpy least squares on the same lagged series."""
    import numpy as np
    from nsdb_spark.operators import tsa

    rng = np.random.RandomState(3)
    n = 200
    x = rng.poisson(5, n).astype(float)
    y = np.empty(n)
    y[0] = 5
    for t in range(1, n):
        y[t] = 0.4 * y[t - 1] + 0.5 * x[t - 1] + rng.normal(0, 1)
    rows = []
    for t in range(n):
        rows += [(t, "cause", 1.0)] * int(x[t]) + [(t, "effect", 1.0)] * 0
    # build explicit hourly count rows instead: feed counts directly is
    # not possible through granger_f (it counts events), so emit one
    # event per count unit
    rows = []
    for t in range(n):
        rows += [((t * 3_600_000) + k, "cause") for k in range(int(x[t]))]
        rows += [((t * 3_600_000) + k, "effect") for k in range(int(round(y[t]))) if y[t] > 0]
    df = spark.createDataFrame(rows, "timestamp long, event_type string")
    got = tsa.granger_f(df, cause="cause", effect="effect").collect()[0]
    # reconstruct the dense hourly series exactly as the operator does
    xs = np.array([int(x[t]) for t in range(n)], dtype=float)
    ys = np.array([max(int(round(y[t])), 0) if y[t] > 0 else 0 for t in range(n)], dtype=float)
    yt, y1, x1 = ys[1:], ys[:-1], xs[:-1]
    A_r = np.column_stack([np.ones_like(y1), y1])
    A_u = np.column_stack([np.ones_like(y1), y1, x1])
    rss = lambda A: float(((yt - A @ np.linalg.lstsq(A, yt, rcond=None)[0]) ** 2).sum())
    rss_r, rss_u = rss(A_r), rss(A_u)
    f_ref = (rss_r - rss_u) / (rss_u / (len(yt) - 3))
    assert abs(got["f_stat"] - f_ref) < max(1e-3, 1e-4 * abs(f_ref))


def test_log_rank_matches_bruteforce(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(9)
    d1 = rng.exponential(10, 30).round(1)
    d2 = rng.exponential(20, 25).round(1)
    rows = [(float(t), True) for t in d1] + [(float(t), False) for t in d2]
    df = spark.createDataFrame(rows, "dur double, grp boolean")
    got = analytics.log_rank_test(df, group="grp", time_col="dur").collect()[0]
    times = sorted(set(d1) | set(d2))
    o1 = e1 = v = 0.0
    for t in times:
        n1 = (d1 >= t).sum()
        n2 = (d2 >= t).sum()
        nj = n1 + n2
        dj = (d1 == t).sum() + (d2 == t).sum()
        d1j = (d1 == t).sum()
        o1 += d1j
        e1 += dj * n1 / nj
        if nj > 1:
            v += dj * (n1 / nj) * (1 - n1 / nj) * (nj - dj) / (nj - 1)
    chi2 = (o1 - e1) ** 2 / v
    assert abs(got["expected1"] - e1) < 1e-4
    assert abs(got["chi2"] - chi2) < 1e-4


@settings(max_examples=200, deadline=None)
@given(
    st.builds(
        dict,
        timestamp=st.integers(min_value=-(2**63), max_value=2**63 - 1),
        value=st.one_of(
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
        ),
        dims=st.dictionaries(
            st.text(min_size=1, max_size=8),
            st.one_of(
                st.text(max_size=12),
                st.integers(min_value=-(2**63), max_value=2**63 - 1),
                st.floats(allow_nan=False, allow_infinity=False, width=64),
            ),
            max_size=4,
        ),
    )
)
def test_proto_bit_roundtrip_fuzz(payload):
    """Arbitrary Bit payloads survive encode→decode bit-exactly (proto3
    wire codec fuzz: full int64 range, doubles, nested maps, oneofs)."""
    from nsdb_spark.grpc import proto

    def slot(v):
        if isinstance(v, float):
            return {"decimalValue": v}
        if isinstance(v, int):
            return {"longValue": v}
        return {"stringValue": v}

    bit = {"timestamp": payload["timestamp"]}
    v = payload["value"]
    if isinstance(v, float):
        bit["decimalValue"] = v
    else:
        bit["longValue"] = v
    if payload["dims"]:
        bit["dimensions"] = {k: slot(x) for k, x in payload["dims"].items()}
    out = proto.decode(proto.BIT, proto.encode(proto.BIT, bit))
    # proto3 skips defaults for non-oneof fields: timestamp 0 is absent
    if bit["timestamp"] == 0:
        assert "timestamp" not in out or out["timestamp"] == 0
        out["timestamp"] = 0
    assert out == bit


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(min_codepoint=0x21, max_codepoint=0x7E),
                min_size=1, max_size=16,
            ).map(str.lower),
            st.text(
                alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
                max_size=32,
            ),
        ),
        max_size=12,
    )
)
def test_hpack_roundtrip_fuzz(headers):
    """Arbitrary ASCII header lists survive Encoder→Decoder exactly
    (indexed static hits, literal names/values, any ordering)."""
    from nsdb_spark.grpc import hpack

    enc, dec = hpack.Encoder(), hpack.Decoder()
    assert dec.decode(enc.encode(headers)) == headers


def test_bartlett_matches_numpy_reference(spark):
    import numpy as np
    from nsdb_spark.operators import analytics

    rng = np.random.RandomState(5)
    groups = {"a": rng.normal(0, 1, 40), "b": rng.normal(0, 2, 35),
              "c": rng.normal(0, 1.5, 50)}
    rows = [(g, float(v)) for g, arr in groups.items() for v in arr]
    df = spark.createDataFrame(rows, "g string, x double")
    got = analytics.bartlett_test(df, "g", "x").collect()[0]
    ni = np.array([len(a) for a in groups.values()], dtype=float)
    vi = np.array([a.var(ddof=1) for a in groups.values()])
    nn, k = ni.sum(), len(ni)
    sp2 = ((ni - 1) * vi).sum() / (nn - k)
    chi2 = ((nn - k) * np.log(sp2) - ((ni - 1) * np.log(vi)).sum()) / (
        1 + ((1 / (ni - 1)).sum() - 1 / (nn - k)) / (3 * (k - 1))
    )
    assert got["k"] == 3 and got["n"] == int(nn)
    assert abs(got["chi2"] - chi2) < 1e-4


def test_engle_granger_detects_cointegrated_pair(spark):
    """Two random walks sharing a common stochastic trend (y = 2x + noise)
    must produce a strongly negative residual ADF t; two INDEPENDENT
    random walks must not."""
    import numpy as np
    from nsdb_spark.operators import tsa

    rng = np.random.RandomState(13)
    n = 400
    xw = np.cumsum(rng.normal(0, 1, n)) + 50
    y_coint = 2.0 * xw + rng.normal(0, 1, n)
    y_indep = np.cumsum(rng.normal(0, 1, n)) + 50

    def to_rows(x, y):
        rows = []
        for t in range(n):
            rows += [((t * 3_600_000) + i, "xa") for i in range(max(int(round(x[t])), 0))]
            rows += [((t * 3_600_000) + i, "yb") for i in range(max(int(round(y[t])), 0))]
        return rows

    df1 = spark.createDataFrame(to_rows(xw, y_coint),
                                "timestamp long, event_type string")
    df2 = spark.createDataFrame(to_rows(xw, y_indep),
                                "timestamp long, event_type string")
    t_coint = tsa.engle_granger(df1, "xa", "yb").collect()[0]["adf_t"]
    t_indep = tsa.engle_granger(df2, "xa", "yb").collect()[0]["adf_t"]
    assert t_coint < -5.0          # spread mean-reverts hard
    assert t_indep > t_coint + 3   # independent walks: much weaker evidence


# ------------------------------------------------------- shape-cache model


@pytest.fixture(scope="module")
def shape_engine_factory(spark):
    import tempfile

    from nsdb_spark.engine import NsdbEngine
    from nsdb_spark.model import Bit

    def make(timestamps):
        eng = NsdbEngine(spark, tempfile.mkdtemp(prefix="wh_shape_"))
        eng.insert_bits(
            "default", "default", "sm",
            [Bit(t, 1, {}, {"k": "a"}) for t in timestamps],
        )
        return eng

    return make


@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("q"), st.integers(min_value=1, max_value=12),
                      st.booleans()),
            st.tuples(st.just("i"), st.integers(min_value=0, max_value=10**6),
                      st.just(False)),
        ),
        min_size=3,
        max_size=8,
    ),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_shape_cache_matches_model_under_interleaved_writes(
    shape_engine_factory, ops
):
    """Arbitrary interleavings of distinct-LIMIT ordered queries and
    inserts: every served slice equals the pure-python model's sorted
    prefix — the shape cache may serve supersets, bind limits, and
    invalidate, but can never return stale, missing, or misordered
    rows."""
    from nsdb_spark.model import Bit
    from nsdb_spark.sql.parser import parse

    base = [10, 20, 30, 40, 50]
    eng = shape_engine_factory(base)
    model = list(base)
    for op in ops:
        if op[0] == "i":
            ts = op[1]
            eng.insert_bits(
                "default", "default", "sm", [Bit(ts, 1, {}, {"k": "a"})]
            )
            model.append(ts)
        else:
            _, k, desc = op
            stmt = parse(
                f"select * from sm order by timestamp"
                f"{' desc' if desc else ''} limit {k}",
                db="default", namespace="default",
            )
            got = [r["timestamp"] for r in eng.collect_select(stmt)]
            want = sorted(model, reverse=desc)[:k]
            assert got == want, (op, got, want, model)


@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("q"), st.integers(min_value=1, max_value=12),
                      st.booleans()),
            st.tuples(st.just("i"), st.integers(min_value=0, max_value=10**6),
                      st.just(0)),
            st.tuples(st.just("d"), st.integers(min_value=0, max_value=10**6),
                      st.integers(min_value=0, max_value=200_000)),
            st.tuples(st.just("r"),
                      st.integers(min_value=0, max_value=1_200_000),
                      st.just(0)),
        ),
        min_size=4,
        max_size=10,
    ),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_shape_cache_matches_model_under_interleaved_mutations(spark, ops):
    """Arbitrary interleavings of inserts, DELETEs, retention evictions,
    and distinct-LIMIT ordered queries: every served slice equals the
    pure-python model's sorted prefix. DELETE rewrites only affected
    shards and retention drops whole expired shards — both bump the
    metric version, so neither the shape cache nor the plan/result/frame
    caches may ever serve a row that no longer exists (or miss one that
    does)."""
    import tempfile

    from nsdb_spark.engine import NsdbEngine
    from nsdb_spark.model import Bit
    from nsdb_spark.sql.parser import parse

    SI, RET = 1000, 100_000
    eng = NsdbEngine(spark, tempfile.mkdtemp(prefix="wh_shape_mut_"))
    eng.warehouse.init_metric("default", "default", "sm", SI, RET)
    # writes validate ts against the retention window around now, so pin
    # now to the batch being written (the replayed-history shape)
    eng.now_fn = lambda: 50
    base = [10, 20, 30, 40, 50]
    eng.insert_bits(
        "default", "default", "sm",
        [Bit(t, 1, {}, {"k": "a"}) for t in base],
    )
    model = list(base)
    for op in ops:
        if op[0] == "i":
            ts = op[1]
            eng.now_fn = lambda ts=ts: ts
            eng.insert_bits(
                "default", "default", "sm", [Bit(ts, 1, {}, {"k": "a"})]
            )
            model.append(ts)
        elif op[0] == "d":
            lo, hi = op[1], op[1] + op[2]
            eng.execute(
                f"delete from sm where timestamp >= {lo} "
                f"and timestamp <= {hi}"
            )
            model = [t for t in model if not (lo <= t <= hi)]
        elif op[0] == "r":
            now = op[1]
            eng.now_fn = lambda now=now: now
            eng.enforce_retention("default", "default", "sm")
            # whole-shard eviction: shard [s, s+SI) drops iff its upper
            # bound is at or below now - retention (catalog
            # drop_shards_older_than semantics)
            cutoff = now - RET
            model = [t for t in model if (t // SI) * SI + SI > cutoff]
        else:
            _, k, desc = op
            stmt = parse(
                f"select * from sm order by timestamp"
                f"{' desc' if desc else ''} limit {k}",
                db="default", namespace="default",
            )
            got = [r["timestamp"] for r in eng.collect_select(stmt)]
            want = sorted(model, reverse=bool(desc))[:k]
            assert got == want, (op, got, want, model)


# -------------------------------------------- disjoint temporal axes model


@given(
    data=st.lists(
        st.integers(min_value=0, max_value=199_999), min_size=1, max_size=12,
        unique=True,
    ),
    g1=st.integers(min_value=1, max_value=198_000),
    width=st.integers(min_value=0, max_value=80_000),
    interval_s=st.integers(min_value=1, max_value=400),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_temporal_not_range_matches_python_model(
    bucket_engine_factory, data, g1, width, interval_s
):
    """NOT-complement WHERE → one backward-aligned bucket axis PER
    disjoint interval (TimeRangeManager.scala:102-124 semantics), each
    clipped to the shard-aligned data extent, no buckets inside the
    excluded gap — checked against an independent pure-python model for
    arbitrary data, gap, and interval choices."""
    shard_interval = 100_000
    interval = interval_s * 1000
    g2 = g1 + width
    eng = bucket_engine_factory(data, shard_interval)
    out = eng.execute(
        f"select count(*) from pm where not timestamp in ({g1}, {g2}) "
        f"group by interval {interval_s}s"
    )
    got = [(r[0], r[1], r[2], r[3]) for r in out.collect()]

    glo = (min(data) // shard_interval) * shard_interval
    data_upper = (max(data) // shard_interval) * shard_interval + shard_interval
    eff = []
    for ilo, ihi in ((glo, g1 - 1), (g2 + 1, data_upper)):
        u = min(ihi, data_upper)
        l = max(ilo, glo)
        if u >= l:  # [x, x] is degenerate but non-empty (reference parity)
            eff.append((l, u))
    model = []
    for l, u in sorted(eff, key=lambda t: t[1]):
        nb = max(1, -((u - l) // -interval))
        for j in range(nb - 1, -1, -1):
            ub = u - j * interval
            lb = max(u - (j + 1) * interval, l)
            cnt = sum(
                1
                for t in data
                if l <= t <= u and min((u - t) // interval, nb - 1) == j
            )
            model.append((ub, lb, ub, cnt))
    assert got == model, (g1, g2, interval, got[:4], model[:4])
    in_gap = sum(1 for t in data if g1 <= t <= g2)
    assert sum(r[3] for r in got) == len(data) - in_gap
    # temporal LIMIT = takeRight of the globally time-sorted UNION axis
    # (post_proc/package.scala:62-66), even across disjoint axes
    lim = eng.execute(
        f"select count(*) from pm where not timestamp in ({g1}, {g2}) "
        f"group by interval {interval_s}s limit 2"
    )
    got_lim = [(r[0], r[1], r[2], r[3]) for r in lim.collect()]
    assert got_lim == model[-2:], (g1, g2, interval, got_lim, model[-2:])


# --------------------------------------------------------- LIKE translation


@given(
    pattern=st.text(
        alphabet="ab$?*.#& \\^[(",
        min_size=0,
        max_size=8,
    ),
    values=st.lists(
        st.text(alphabet="ab?*.#& \\^[(", min_size=0, max_size=8),
        min_size=1,
        max_size=6,
        unique=True,
    ),
)
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_like_translation_java_matches_python_semantics(spark, pattern, values):
    """The NSDb LIKE → regex translation must mean the same thing to
    Spark's Java regex engine as to Python's `re` — re.escape emits
    Python-flavored escapes (\\#, \\&, \\<space>, …) that a Java
    Pattern must interpret identically, for arbitrary patterns mixing
    the `$` wildcard with regex metacharacters."""
    import re as _re

    from nsdb_spark.compiler import like_to_regex
    from pyspark.sql import functions as F

    rx = like_to_regex(pattern)
    py = _re.compile(rx)
    df = spark.createDataFrame([(v,) for v in values], "s string")
    got = {
        r["s"] for r in df.filter(F.col("s").rlike(rx)).collect()
    }
    want = {v for v in values if py.match(v)}
    assert got == want, (pattern, rx, got, want)


# ------------------------------------------------------------ delete model


@given(
    data=st.lists(
        st.integers(min_value=0, max_value=399_999), min_size=1, max_size=14,
        unique=True,
    ),
    d1=st.integers(min_value=0, max_value=399_999),
    width=st.integers(min_value=0, max_value=150_000),
    second_delete=st.booleans(),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_delete_matches_python_model(
    bucket_engine_factory, data, d1, width, second_delete
):
    """DELETE with an arbitrary timestamp range rewrites ONLY the
    affected shards and removes exactly the matching rows — checked
    against a pure-python model, including a second overlapping delete
    (shards already rewritten once must rewrite again correctly)."""
    shard_interval = 100_000
    eng = bucket_engine_factory(data, shard_interval)
    model = set(data)

    def run_delete(lo, hi):
        eng.execute(f"delete from pm where timestamp in ({lo}, {hi})")
        return {t for t in model if not lo <= t <= hi}

    model = run_delete(d1, d1 + width)
    got = {r["timestamp"] for r in eng.execute("select * from pm").collect()}
    assert got == model, (d1, width, got ^ model)
    if second_delete and model:
        mid = sorted(model)[len(model) // 2]
        model = run_delete(mid, mid + shard_interval)
        got = {r["timestamp"] for r in eng.execute("select * from pm").collect()}
        assert got == model, ("second", mid, got ^ model)
    # count agg agrees post-delete (engine caches must not serve stale)
    n = eng.execute("select count(*) from pm").collect()
    assert (n[0][0] if model else (not n or n[0][0] == 0)) == (len(model) if model else True)


@given(
    data=st.lists(
        st.integers(min_value=0, max_value=199_999), min_size=1, max_size=10,
        unique=True,
    ),
    g1=st.integers(min_value=1, max_value=198_000),
    width=st.integers(min_value=0, max_value=80_000),
    interval_s=st.integers(min_value=1, max_value=400),
    grace_s=st.integers(min_value=50, max_value=350),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_temporal_grace_with_disjoint_axes_matches_model(
    bucket_engine_factory, data, g1, width, interval_s, grace_s
):
    """SINCE grace over disjoint NOT-range axes: each interval's lower
    bound clips at max(its own lo, now - grace), intervals wholly before
    the cutoff die, a clip landing exactly on an interval top keeps its
    degenerate bucket — checked against the pure-python model for
    arbitrary data/gap/interval/grace choices (now fixed at 300000 so
    the cutoff sweeps from inside the data extent to beyond it)."""
    from nsdb_spark.compiler import TimeContext

    shard_interval = 100_000
    interval = interval_s * 1000
    now = 300_000
    cutoff = now - grace_s * 1000
    g2 = g1 + width
    eng = bucket_engine_factory(data, shard_interval)
    out = eng.execute(
        f"select count(*) from pm where not timestamp in ({g1}, {g2}) "
        f"group by interval {interval_s}s since {grace_s} s",
        time_context=TimeContext(now),
    )
    got = [(r[0], r[1], r[2], r[3]) for r in out.collect()]

    glo_data = (min(data) // shard_interval) * shard_interval
    data_upper = (max(data) // shard_interval) * shard_interval + shard_interval
    glo = max(glo_data, cutoff)
    eff = []
    for ilo, ihi in ((glo_data, g1 - 1), (g2 + 1, data_upper)):
        u = min(ihi, data_upper)
        l = max(ilo, glo)
        if u >= l:
            eff.append((l, u))
    model = []
    for l, u in sorted(eff, key=lambda t: t[1]):
        nb = max(1, -((u - l) // -interval))
        for j in range(nb - 1, -1, -1):
            ub = u - j * interval
            lb = max(u - (j + 1) * interval, l)
            cnt = sum(
                1
                for t in data
                if l <= t <= u and min((u - t) // interval, nb - 1) == j
            )
            model.append((ub, lb, ub, cnt))
    assert got == model, (g1, g2, interval, cutoff, got[:4], model[:4])


# ------------------------------------------ point-serving SQL-text route parity

_pt_leaf = st.one_of(
    st.tuples(st.sampled_from(["timestamp", "value", "age"]),
              st.sampled_from(["=", ">", ">=", "<", "<="]),
              st.integers(min_value=0, max_value=25)).map(
        lambda t: f"{t[0]} {t[1]} {t[2]}"),
    st.sampled_from(["John", "Bill", "Frank"]).map(
        lambda v: f"name = '{v}'"),
    st.tuples(st.integers(0, 25), st.integers(0, 25)).map(
        lambda t: f"value in ({min(t)}, {max(t)})"),
    st.sampled_from(["John$", "$ran$", "B$", "$ill", "Frank"]).map(
        lambda p: f"name like '{p}'"),
    st.sampled_from(["age is null", "age is not null"]),
)

_pt_expr = st.recursive(
    _pt_leaf,
    lambda children: st.one_of(
        children.map(lambda e: f"not ({e})"),
        st.tuples(children, st.sampled_from(["and", "or"]), children).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"),
    ),
    max_leaves=5,
)


@pytest.fixture(scope="module")
def point_parity_engine(spark, tmp_path_factory):
    from nsdb_spark.engine import NsdbEngine
    from nsdb_spark.model import Bit

    eng = NsdbEngine(spark, str(tmp_path_factory.mktemp("ptparity")))
    bits = [
        Bit(t, 20 - t, {"surname": "Doe"},
            {"name": ["John", "Bill", "Frank"][t % 3],
             **({"age": t % 4 + 14} if t % 5 else {})})
        for t in range(1, 21)
    ]
    eng.insert_bits("default", "default", "propMetric", bits)
    return eng


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(expr=_pt_expr, desc=st.booleans(), k=st.integers(1, 25))
def test_point_sql_text_route_matches_column_route(point_parity_engine, expr, desc, k):
    """Route equivalence under random WHERE trees: the parameterized-SQL
    point serve (compiler.serving_sql on the interpreted session) returns
    exactly what the Column pipeline (compiler.compile on the codegen
    session) returns, for every predicate construct the plain class
    supports — including index-complement NOT over NULL fields.
    timestamps are unique, so ORDER BY timestamp + LIMIT is
    deterministic on both routes."""
    from fixtures import column_route_rows

    eng = point_parity_engine
    q = (f"select * from propMetric where {expr} "
         f"order by timestamp {'desc' if desc else ''} limit {k}")
    stmt = parse(q, db="default", namespace="default")
    eng.invalidate_plan_caches()
    df, _, _ = eng._plan_select(stmt)
    assert df.sparkSession is eng._serving_session()
    assert "nsdb_pt_" in df._jdf.queryExecution().analyzed().toString()
    got = [tuple(r) for r in df.collect()]
    assert got == column_route_rows(eng, stmt), q


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(expr=_pt_expr, k=st.integers(1, 25))
def test_point_file_route_matches_column_route(point_parity_engine, expr, k):
    """The unordered twin: collect_select reads `... LIMIT k` with no
    ORDER BY from the shard files (compiler.arrow_expression, no Spark
    planning) and returns every row the Column pipeline matches when k
    covers them, else k of them, under random WHERE trees."""
    import dataclasses

    from fixtures import assert_limit_rows, column_route_rows, file_served_rows

    eng = point_parity_engine
    q = f"select * from propMetric where {expr} limit {k}"
    stmt = parse(q, db="default", namespace="default")
    every = column_route_rows(eng, dataclasses.replace(stmt, limit=None))
    assert_limit_rows(file_served_rows(eng, stmt), every, k, q)


# ------------------------------------------------ aggregate file-route parity

_agg_leaf = st.one_of(
    st.tuples(st.sampled_from(["=", ">", ">=", "<", "<="]),
              st.integers(min_value=0, max_value=30000)).map(
        lambda t: f"timestamp {t[0]} {t[1]}"),
    st.tuples(st.sampled_from(["=", ">", ">=", "<", "<="]),
              st.sampled_from([-3, -2, 0, 1, 2, 4])).map(
        lambda t: f"value {t[0]} {t[1]}"),
    st.tuples(st.integers(0, 30000), st.integers(0, 30000)).map(
        lambda t: f"timestamp in ({min(t)}, {max(t)})"),
    st.sampled_from(["a", "b", "c"]).map(lambda v: f"name = '{v}'"),
    st.sampled_from(["name is null", "late is not null", "late = 'x'"]),
)

_agg_where = st.recursive(
    _agg_leaf,
    lambda children: st.one_of(
        children.map(lambda e: f"not ({e})"),
        st.tuples(children, st.sampled_from(["and", "or"]), children).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"),
    ),
    max_leaves=4,
)

_TAG_AGGS = ["count(*)", "count(late)", "count(distinct value)", "count(distinct late)",
             "sum(value)", "min(value)", "max(value)", "avg(value)", "first(value)",
             "last(value)"]
_TEMPORAL_AGGS = ["count(*)", "count(distinct name)", "sum(value)", "min(value)",
                  "max(value)", "avg(value)"]
_GLOBAL_AGGS = ["count(*)", "count(distinct name)", "sum(value)", "min(value)",
                "max(value)", "avg(value)"]


@st.composite
def _agg_statement(draw):
    metric = draw(st.sampled_from(["aggm", "aggl"]))
    where = draw(st.one_of(st.just(""), _agg_where.map(lambda e: f" where {e}")))
    limit = draw(st.one_of(st.just(""), st.integers(0, 6).map(lambda k: f" limit {k}")))
    cls = draw(st.sampled_from(["tag", "global", "temporal"]))
    if cls == "tag":
        group = draw(st.sampled_from(["name", "late"]))
        order = draw(st.sampled_from(["", " order by value", " order by value desc",
                                      f" order by {group}", f" order by {group} desc"]))
        agg = draw(st.sampled_from(_TAG_AGGS))
        return f"select {agg} from {metric}{where} group by {group}{order}{limit}"
    if cls == "global":
        aggs = draw(st.lists(st.sampled_from(_GLOBAL_AGGS), min_size=1, max_size=3,
                             unique=True))
        return f"select {', '.join(aggs)} from {metric}{where}{limit}"
    agg = draw(st.sampled_from(_TEMPORAL_AGGS))
    interval = draw(st.sampled_from([1, 3, 7, 20]))
    order = draw(st.sampled_from(["", " order by timestamp", " order by timestamp desc"]))
    return f"select {agg} from {metric}{where} group by interval {interval}s{order}{limit}"


@pytest.fixture(scope="module")
def agg_parity_engine(spark, tmp_path_factory):
    from fixtures import load_aggregate_parity

    from nsdb_spark.engine import NsdbEngine

    return load_aggregate_parity(
        NsdbEngine(spark, str(tmp_path_factory.mktemp("aggparity")))
    )


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(sql=_agg_statement())
def test_aggregate_file_route_matches_column_route(agg_parity_engine, sql):
    """The hypothesis twin of the aggregate file-route parity grid: random
    tag group-by, global and temporal aggregates under random WHERE trees
    (NOT-complement and OR time ranges make disjoint axes), ORDER BY and
    LIMIT, over values with NaN, -0.0 and NULL tags, read from the shard
    files, match the Column pipeline cell by cell."""
    from fixtures import assert_aggregate_file_route

    assert_aggregate_file_route(agg_parity_engine, sql)
