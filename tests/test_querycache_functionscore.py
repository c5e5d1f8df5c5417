"""FunctionScoreQuery re-scoring + LRUQueryCache filter caching.

Reference: queries/function/FunctionScoreQuery.java (replace /
boostByValue modes), search/LRUQueryCache.java:85 +
UsageTrackingQueryCachingPolicy.java:110-140 (cache after 2 sightings
for costly multi-term iterators, LRU eviction).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_spark.corpus import make_corpus
from lucene_spark.index import Index, build_index
from lucene_spark.search import (
    BoolQ,
    FunctionScoreQ,
    LRUQueryCache,
    PrefixQ,
    Searcher,
    TermQ,
    WildcardQ,
)

N_DOCS = 300


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = make_corpus(N_DOCS, seed=7)
    idx_dir = str(tmp_path_factory.mktemp("idx_fsq"))
    build_index(
        spark,
        spark.createDataFrame(pdf),
        idx_dir,
        text_col="content",
        order_cols=["repo", "path", "commit"],
        keep_cols=["repo", "path", "lang"],
        num_buckets=4,
    )
    return Index(spark, idx_dir)


def test_function_score_replace(built):
    """mode=replace: score comes entirely from the values source."""
    s = Searcher(built)
    inner = TermQ("import")
    match_ids = {r["doc_id"] for r in s.scored(inner).collect()}
    assert match_ids
    got = {
        r["doc_id"]: r["score"]
        for r in s.scored(FunctionScoreQ(inner, "length(path)")).collect()
    }
    assert set(got) == match_ids  # match set unchanged, scores replaced
    lengths = {
        r["doc_id"]: float(len(r["path"]))
        for r in built.docs.collect()
    }
    for d, sc in got.items():
        assert sc == lengths[d]


def test_function_score_multiply(built):
    """mode=multiply == boostByValue: inner score * source, float32."""
    s = Searcher(built)
    inner = TermQ("import")
    base = {r["doc_id"]: r["score"] for r in s.scored(inner).collect()}
    got = {
        r["doc_id"]: r["score"]
        for r in s.scored(
            FunctionScoreQ(inner, "length(lang) + 1", mode="multiply", boost=2.0)
        ).collect()
    }
    langs = {r["doc_id"]: r["lang"] for r in built.docs.collect()}
    assert set(got) == set(base)
    for d, sc in got.items():
        want = np.float32(base[d] * (len(langs[d]) + 1) * 2.0)
        assert np.float32(sc) == want, (d, sc, want)


def test_function_score_topk_matches_exhaustive(built):
    """top_k through a FunctionScoreQ must not be perturbed by inner
    block-max pruning (k is not forwarded to the inner weight): it
    equals the exhaustive scored plan ordered by (score desc, docID asc)."""
    s = Searcher(built)
    q = FunctionScoreQ(TermQ("the"), "length(path)")
    a = [(r["doc_id"], np.float32(r["score"])) for r in s.top_k(q, 10).collect()]
    exh = s.scored(q).orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    b = [(r["doc_id"], np.float32(r["score"])) for r in exh.collect()]
    assert a == b


def test_query_cache_policy_and_hits(built):
    """Costly (multi-term) filters cache on the 2nd sighting; results
    are identical cached vs uncached; LRU evicts and unpersists."""
    cache = LRUQueryCache(max_size=2)
    s = Searcher(built, query_cache=cache)
    s0 = Searcher(built)  # no cache
    q = PrefixQ("imp")

    want = sorted(r["doc_id"] for r in s0.doc_set(q).collect())
    r1 = sorted(r["doc_id"] for r in s.doc_set(q).collect())
    assert r1 == want
    assert cache.hits == 0 and cache.misses == 1  # seen once: not cached yet

    r2 = s.doc_set(q)  # 2nd sighting of a costly query -> persisted
    assert sorted(x["doc_id"] for x in r2.collect()) == want
    assert cache.misses == 2 and cache.hits == 0
    assert r2.storageLevel.useMemory  # persisted in block storage

    r3 = s.doc_set(q)  # now a cache hit
    assert cache.hits == 1
    assert sorted(x["doc_id"] for x in r3.collect()) == want

    # TermQ is cheap: threshold 5 -> still uncached after 2 sightings
    tq = TermQ("import")
    s.doc_set(tq); s.doc_set(tq)
    assert all(not isinstance(k, TermQ) for k in cache._cached)

    # fill beyond max_size with other costly filters -> LRU eviction
    w1, w2 = WildcardQ("im*rt"), PrefixQ("def")
    for _ in range(2):
        s.doc_set(w1)
    for _ in range(2):
        s.doc_set(w2)
    assert len(cache._cached) == 2
    assert q not in cache._cached  # oldest evicted
    # evicted entry was unpersisted
    assert not r2.storageLevel.useMemory

    cache.clear()
    assert len(cache._cached) == 0


def test_query_cache_filter_context_only(built):
    """The cache serves the non-scoring FILTER context: a BoolQ with a
    cached filter clause returns the same hits as without a cache."""
    cache = LRUQueryCache(max_size=4)
    s = Searcher(built, query_cache=cache)
    s0 = Searcher(built)
    q = BoolQ(must=(TermQ("import"),), filter=(PrefixQ("def"),))
    want = [(r["doc_id"], np.float32(r["score"])) for r in s0.top_k(q, 10).collect()]
    for _ in range(3):
        got = [(r["doc_id"], np.float32(r["score"])) for r in s.top_k(q, 10).collect()]
        assert got == want
    assert cache.hits >= 1
