"""Multi-field indexing: per-field postings/norms/stats and cross-field
blended scoring — the FieldInfos data model (index/FieldInfos.java,
IndexingChain.java:583-603; BlendedTermQuery.java:334)."""

import numpy as np
import pytest

from lucene_spark.corpus import make_corpus
from lucene_spark.index import Index, build_index
from lucene_spark.oracle import PandasOracle
from lucene_spark.search import BlendedTermQ, PhraseQ, Searcher, TermQ

N_DOCS = 250
HEAD_CHARS = 120


@pytest.fixture(scope="module")
def built2(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    pdf = make_corpus(N_DOCS, seed=9)
    pdf["head"] = pdf["content"].str.slice(0, HEAD_CHARS)
    idx_dir = str(tmp_path_factory.mktemp("mfidx"))
    corpus = spark.createDataFrame(pdf)
    manifest = build_index(
        spark,
        corpus,
        idx_dir,
        text_col="content",
        extra_fields={"head": "head"},
        order_cols=["repo", "path", "commit"],
        keep_cols=["lang"],
        num_buckets=4,
        salt_rows=64,
    )
    index = Index(spark, idx_dir)
    opdf = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    opdf["doc_id"] = np.arange(len(opdf), dtype=np.int64)
    oracle_content = PandasOracle(opdf, text_col="content")
    oracle_head = PandasOracle(opdf, text_col="head")
    return index, oracle_content, oracle_head, manifest


def hits(df):
    return [(int(r["doc_id"]), float(np.float32(r["score"]))) for r in df.collect()]


def test_per_field_global_stats(built2):
    index, oc, oh, manifest = built2
    fs = manifest["field_stats"]
    assert fs["content"]["sum_ttf"] == oc.sum_ttf
    assert fs["content"]["doc_count"] == oc.doc_count
    assert fs["head"]["sum_ttf"] == oh.sum_ttf
    assert fs["head"]["doc_count"] == oh.doc_count
    assert fs["head"]["sum_ttf"] < fs["content"]["sum_ttf"]


def test_per_field_term_stats(built2):
    index, oc, oh, _ = built2
    t = "license"
    sc = index.stats_for_terms([t], "content").get(t)
    sh = index.stats_for_terms([t], "head").get(t)
    assert sc is not None
    # head is a strict prefix of content: df_head <= df_content
    if sh is not None:
        assert sh[0] <= sc[0] and sh[1] <= sc[1]


@pytest.mark.parametrize("term", ["license", "import", "the"])
def test_field_term_topk_matches_oracle(built2, term):
    """TermQ(field='head') must score with head's own df, avgdl and
    norms — bit-for-bit float32 vs a pandas oracle over the head text."""
    index, _oc, oh, _ = built2
    s = Searcher(index, scoring="lucene")
    got = hits(s.top_k(TermQ(term, field="head"), 15))
    want = oh.top_k(oh.term_scores(term), 15)
    assert len(got) == len(want)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd and np.float32(gs) == np.float32(ws), (got, want)


def test_default_field_unchanged_by_extra(built2):
    index, oc, _oh, _ = built2
    s = Searcher(index, scoring="lucene")
    got = hits(s.top_k(TermQ("license"), 15))
    want = oc.top_k(oc.term_scores("license"), 15)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd and np.float32(gs) == np.float32(ws)


def test_field_phrase(built2):
    index, _oc, oh, _ = built2
    s = Searcher(index, scoring="lucene")
    got = hits(s.top_k(PhraseQ(("apache", "license"), field="head"), 10))
    want = oh.top_k(oh.phrase_scores(["apache", "license"]), 10)
    assert [d for d, _ in got] == [d for d, _ in want]


def test_blended_cross_field(built2):
    """BlendedTermQuery across (content, head): blended df = max over
    pairs; each pair scored in its own field; dismax combine."""
    index, oc, oh, _ = built2
    from lucene_spark import bm25

    term = "license"
    s = Searcher(index, scoring="lucene")
    tb = 0.1
    got = hits(s.top_k(BlendedTermQ((term,), tiebreak=tb, fields=("content", "head")), 15))

    dfc = len(oc.postings.get(term, {}))
    dfh = len(oh.postings.get(term, {}))
    df_max = max(dfc, dfh)
    expected: dict[int, np.float32] = {}
    per_field = []
    for o in (oc, oh):
        w = np.float32(1.0) * bm25.idf(df_max, o.doc_count)
        scores = {}
        for d, positions in o.postings.get(term, {}).items():
            scores[d] = bm25.score(
                np.array([len(positions)], dtype=np.int64),
                np.array([o.norms[d]], dtype=np.int64),
                np.float32(w),
                o.cache,
            )[0]
        per_field.append(scores)
    all_docs = set(per_field[0]) | set(per_field[1])
    for d in all_docs:
        vals = [np.float64(sf[d]) for sf in per_field if d in sf]
        mx, sm = max(vals), sum(vals)
        expected[d] = np.float32(
            np.float32(mx) + np.float32(tb) * (np.float32(sm) - np.float32(mx))
        )
    want = PandasOracle.top_k(expected, 15)
    assert [d for d, _ in got] == [d for d, _ in want], (got, want)

