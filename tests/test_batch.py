"""Batched query execution: top_k_batch runs a whole query suite under
one Spark action and must reproduce each query's top_k exactly."""

import numpy as np
import pytest

from lucene_spark.corpus import make_corpus
from lucene_spark.index import Index, build_index
from lucene_spark.search import BoolQ, PhraseQ, PrefixQ, Searcher, TermQ


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = make_corpus(300, seed=3)
    idx_dir = str(tmp_path_factory.mktemp("idx_batch"))
    build_index(
        spark,
        spark.createDataFrame(pdf),
        idx_dir,
        text_col="content",
        order_cols=["repo", "path", "commit"],
        num_buckets=4,
    )
    return Index(spark, idx_dir)


def test_batch_matches_individual(built):
    """Every query's batched top-k equals its own top_k."""
    s = Searcher(built)
    suite = {
        "t1": TermQ("import"),
        "t2": TermQ("class"),
        "b_or": BoolQ(should=(TermQ("async"), TermQ("await"))),
        "b_and": BoolQ(must=(TermQ("def"), TermQ("class"))),
        "ph": PhraseQ(("async", "def")),
        "cs": BoolQ(must=(TermQ("chan"),), filter=(PrefixQ("def"),)),
        # term-leaf boolean shapes: one scan, every clause kind
        "w_or": BoolQ(should=(TermQ("the"), TermQ("import"), TermQ("return"))),
        "w_must2": BoolQ(must=(TermQ("import"), TermQ("return"))),
        "w_msm2": BoolQ(should=(TermQ("the"), TermQ("import"), TermQ("return")),
                        min_should_match=2),
        "w_must_not": BoolQ(must=(TermQ("import"), TermQ("return")),
                            must_not=(TermQ("class"),)),
        "w_filter": BoolQ(should=(TermQ("import"), TermQ("return")),
                          filter=(TermQ("def"),)),
    }
    k = 10
    batch = s.top_k_batch(suite, k).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], int(r["doc_id"]), np.float32(r["score"]))
        )
    for qid, q in suite.items():
        want = [
            (i + 1, int(r["doc_id"]), np.float32(r["score"]))
            for i, r in enumerate(s.top_k(q, k).collect())
        ]
        assert want, qid
        assert sorted(got.get(qid, [])) == want, qid


def test_count_fast_path_matches_scan(built):
    """Weight#count: df-based term count == distributed doc-set count,
    and MatchAll count == maxDoc (no deletes). Every other query counts
    exactly its top_k hits: filter context is the scored plan's doc
    set, whatever the query family."""
    from lucene_spark.search import (
        CombinedFieldQ, CommonTermsQ, DisMaxQ, FieldFilter, FunctionScoreQ,
        MatchAllQ, SynonymQ,
    )

    s = Searcher(built)
    for t in ["import", "class", "zzz_missing"]:
        assert s.count(TermQ(t)) == s.doc_set(TermQ(t)).count()
    assert s.count(MatchAllQ()) == built.N
    # compound queries still go through the distributed path
    for q in (
        BoolQ(should=(TermQ("import"), TermQ("class"))),
        DisMaxQ((TermQ("import"), TermQ("class")), tiebreak=0.1),
        FunctionScoreQ(TermQ("class"), "dl"),
        CombinedFieldQ(("import", "class"), (("content", 1.0),)),
        CommonTermsQ(("the", "import", "chan")),
        PhraseQ(("async", "def")),
        SynonymQ(("async", "await")),
        PrefixQ("var_", rewrite="top_terms_blended", max_expansions=2),
        BoolQ(must=(TermQ("import"),),
              should=(FieldFilter("dl", "between", (0, 40)),),
              min_should_match=1),
    ):
        hits = [int(r["doc_id"]) for r in s.top_k(q, built.N).collect()]
        assert hits, q
        assert s.count(q) == len(hits), q
        assert sorted(int(r["doc_id"]) for r in s.doc_set(q).collect()) \
            == sorted(hits), q


def test_explain_matches_score(built):
    """IndexSearcher.explain analog: the explanation's root value equals
    the engine score bit-for-bit (float32 mode) for every hit tried."""
    from lucene_spark.search import BoostQ, ConstScoreQ, DisMaxQ

    s = Searcher(built)
    cases = [
        TermQ("import"),
        BoostQ(TermQ("class"), 2.5),
        BoolQ(must=(TermQ("def"),), should=(TermQ("class"),)),
        BoolQ(should=(TermQ("async"), TermQ("await"))),
        DisMaxQ((TermQ("import"), TermQ("class")), tiebreak=0.1),
        BoolQ(must=(TermQ("chan"),), filter=(PrefixQ("def"),)),
        ConstScoreQ(PrefixQ("imp"), 3.0),
    ]
    for q in cases:
        hits = s.top_k(q, 5).collect()
        assert hits, q
        for r in hits[:3]:
            ex = s.explain(q, int(r["doc_id"]))
            assert np.float32(ex["value"]) == np.float32(r["score"]), (q, r, ex)
        # a doc that does not match explains to 0 with a reason
        miss_doc = 10**9
        ex0 = s.explain(q, miss_doc)
        assert ex0["value"] == 0.0
        assert ex0.get("matched", True) is False
    # a NESTED failed MUST clause must propagate matched=False (the parent
    # may not sniff description strings — the inner failure's description
    # is 'failure to meet MUST clause', not 'no matching term')
    inner = BoolQ(must=(TermQ("zzz_missing"),), should=(TermQ("import"),))
    outer = BoolQ(must=(inner,), should=(TermQ("class"),))
    some_doc = int(s.top_k(TermQ("class"), 1).collect()[0]["doc_id"])
    ex_nested = s.explain(outer, some_doc)
    assert ex_nested["value"] == 0.0
    assert ex_nested.get("matched", True) is False
    # structural sanity: term explanation decomposes into boost*idf*tf
    ex = s.explain(TermQ("import"), int(s.top_k(TermQ("import"), 1).collect()[0]["doc_id"]))
    parts = [d["value"] for d in ex["details"]]
    assert len(parts) == 3
    assert abs(parts[0] * parts[1] * parts[2] - ex["value"]) < 1e-6 * max(1.0, ex["value"])


def test_top_field_after_pages_partition(built):
    """TopFieldCollector after=FieldDoc: consecutive pages partition the
    full sorted result exactly (2-col lexicographic sort + docID tiebreak)."""
    s = Searcher(built)
    q = TermQ("import")
    sort = [("dl", True), ("norm", False)]
    from pyspark.sql import functions as F

    full = s.doc_set(q).join(
        built.docs.select("doc_id", "dl", "norm"), "doc_id"
    ).orderBy(F.col("dl").desc(), F.col("norm").asc(), "doc_id").collect()
    k = 7
    page1 = s.top_field(q, sort, k).collect()
    last = page1[-1]
    page2 = s.top_field_after(
        q, sort, k, [last["dl"], last["norm"]], int(last["doc_id"])
    ).collect()
    got = [(r["doc_id"], r["dl"], r["norm"]) for r in page1 + page2]
    want = [(r["doc_id"], r["dl"], r["norm"]) for r in full[: 2 * k]]
    assert got == want
