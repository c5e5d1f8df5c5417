"""Differential test for term-leaf boolean queries (every MUST/SHOULD
clause a TermQ). They run as one postings scan and one grouped call per
salt (the leaf plan); this test checks that plan against a reference composed in
pandas from per-clause ``scored(TermQ)`` collects (a different code path:
the single-term decode) with BooleanQuery's float rules:

- float32 clause scores summed in double;
- MUST sums uncast;
- the SHOULD sum cast to float before it is added to MUST;
- the total cast when more than one MUST or a MUST+SHOULD mix adds up;
- a BoolQ boost as a float32 multiply.

Ranks, doc_ids and float32 score bits must match. In filter context
(``doc_set``, ``count``) every shape must match the reference hit set,
each doc once."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_spark.corpus import make_corpus
from lucene_spark.index import Index, append_to_index, build_index, delete_docs
from lucene_spark.search import BoolQ, FieldFilter, Searcher, TermQ

SHAPES = {
    "or2": BoolQ(should=(TermQ("import"), TermQ("var_17"))),
    "or3": BoolQ(should=(TermQ("the"), TermQ("self"), TermQ("var_17"))),
    "and2": BoolQ(must=(TermQ("import"), TermQ("return"))),
    "and3": BoolQ(must=(TermQ("import"), TermQ("return"), TermQ("self"))),
    "must_should_msm0": BoolQ(must=(TermQ("license"),),
                              should=(TermQ("var_17"), TermQ("self"))),
    "must_should_msm1": BoolQ(must=(TermQ("license"),),
                              should=(TermQ("var_17"), TermQ("self")),
                              min_should_match=1),
    "msm2of3": BoolQ(should=(TermQ("the"), TermQ("self"), TermQ("var_17")),
                     min_should_match=2),
    "must_not": BoolQ(must=(TermQ("import"),), must_not=(TermQ("self"),)),
    "should_not": BoolQ(should=(TermQ("var_17"), TermQ("return")),
                        must_not=(TermQ("the"),)),
    "must_filter_term": BoolQ(must=(TermQ("import"), TermQ("var_17")),
                              filter=(TermQ("license"),)),
    "must_field_filter": BoolQ(must=(TermQ("return"),),
                               should=(TermQ("self"),),
                               filter=(FieldFilter("lang", "=", "py"),)),
    "clause_boosts": BoolQ(should=(TermQ("import", boost=2.5),
                                   TermQ("var_17", boost=0.5))),
    "bool_boost": BoolQ(must=(TermQ("return", boost=1.3),),
                        should=(TermQ("self", boost=0.7),), boost=1.7),
    "absent_must": BoolQ(must=(TermQ("import"), TermQ("zzz_absent"))),
    "absent_should": BoolQ(should=(TermQ("var_17"), TermQ("zzz_absent"),
                                   TermQ("self"))),
    "absent_should_required": BoolQ(must=(TermQ("import"),),
                                    should=(TermQ("zzz_absent"),),
                                    min_should_match=1),
}
EMPTY = {"absent_must", "absent_should_required"}

BUILD = dict(text_col="content", order_cols=["repo", "path", "commit"],
             keep_cols=["lang"], num_buckets=4, salt_rows=64)


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(240, seed=13)


@pytest.fixture(scope="module")
def plain(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("term_bool_plain"))
    build_index(spark, spark.createDataFrame(corpus), d, **BUILD)
    return Index(spark, d)


@pytest.fixture(scope="module")
def deleted(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("term_bool_deleted"))
    build_index(spark, spark.createDataFrame(corpus), d, **BUILD)
    victims = Searcher(Index(spark, d)).doc_set(TermQ("fn_0"))
    delete_docs(spark, d, victims)
    return Index(spark, d)


@pytest.fixture(scope="module")
def two_segments(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("term_bool_two_seg"))
    build_index(spark, spark.createDataFrame(corpus.iloc[:160]), d, **BUILD)
    append_to_index(spark, spark.createDataFrame(corpus.iloc[160:]), d,
                    order_cols=BUILD["order_cols"])
    return Index(spark, d)


def _clause_rows(s: Searcher, qs: dict) -> tuple[dict, dict]:
    """Per-clause scores ({TermQ: {doc: score}}) and FILTER / MUST_NOT
    doc sets ({clause: {doc}}) of every shape, in one collect."""
    scored = sorted({c for q in qs.values() for c in q.must + q.should},
                    key=repr)
    sets = sorted({c for q in qs.values() for c in q.filter + q.must_not},
                  key=repr)
    u = None
    for i, c in enumerate(scored + sets):
        part = (s.scored(c) if i < len(scored)
                else s.doc_set(c).withColumn("score", F.lit(0.0)))
        part = part.select(F.lit(i).alias("i"), "doc_id", "score")
        u = part if u is None else u.unionByName(part)
    scores = {c: {} for c in scored}
    docs = {c: set() for c in sets}
    for r in u.collect():
        i, d = r["i"], int(r["doc_id"])
        if i < len(scored):
            scores[scored[i]][d] = float(r["score"])
        else:
            docs[sets[i - len(scored)]].add(d)
    return scores, docs


def _reference(s: Searcher, q: BoolQ, scores: dict,
               docs: dict) -> list[tuple[int, float]]:
    """All hits of q by (score desc, doc_id asc), composed from
    per-clause rows with the join tree's float rules."""
    lucene = s.scoring == "lucene"

    def cast(x):
        return float(np.float32(x)) if lucene else x

    must = [scores[c] for c in q.must]
    should = [scores[c] for c in q.should]
    if must:
        cand = set.intersection(*(set(m) for m in must))
    else:
        cand = set().union(*should)
    for c in q.filter:
        cand &= docs[c]
    for c in q.must_not:
        cand -= docs[c]
    msm = q.min_should_match if must else max(1, q.min_should_match)
    out = {}
    for d in cand:
        hits = [sh[d] for sh in should if d in sh]
        if q.should and len(hits) < msm:
            continue
        m_sum = sum(m[d] for m in must)
        s_sum = cast(sum(hits))
        if must and q.should:
            total = cast(m_sum + s_sum)
        elif must:
            total = cast(m_sum) if len(must) > 1 else m_sum
        else:
            total = s_sum
        if q.boost != 1.0:
            total = (float(np.float32(total) * np.float32(q.boost))
                     if lucene else total * q.boost)
        out[d] = total
    return sorted(out.items(), key=lambda x: (-x[1], x[0]))


def _doc_sets(s: Searcher, qs: dict) -> dict:
    """{name: [doc_id, ...]} of every shape's doc_set, in one collect;
    a doc listed twice stays listed twice."""
    u = None
    for name, q in qs.items():
        part = s.doc_set(q).select(F.lit(name).alias("name"), "doc_id")
        u = part if u is None else u.unionByName(part)
    out: dict = {name: [] for name in qs}
    for r in u.collect():
        out[r["name"]].append(int(r["doc_id"]))
    return out


def _check(s: Searcher, batch: bool, filter_context: bool = True):
    """Every shape's hits against the reference: top_k one query at a
    time, or all shapes in one top_k_batch; with ``filter_context`` also
    its doc_set and count, the same query without scores."""
    scores, docs = _clause_rows(s, SHAPES)
    doc_sets = _doc_sets(s, SHAPES) if filter_context else None
    n = s.index.N
    if batch:
        got_all: dict = {name: [] for name in SHAPES}
        for r in s.top_k_batch(SHAPES, n).collect():
            got_all[r["query_id"]].append(
                (r["rank"], int(r["doc_id"]), float(r["score"]))
            )
        got_all = {k: [(d, v) for _r, d, v in sorted(rows)]
                   for k, rows in got_all.items()}
    for name, q in SHAPES.items():
        want = _reference(s, q, scores, docs)
        if filter_context:
            hits = {d for d, _ in want}
            assert sorted(doc_sets[name]) == sorted(hits), name
            assert s.count(q) == len(hits), name
        if batch:
            got = got_all[name]
        else:
            got = [(int(r["doc_id"]), float(r["score"]))
                   for r in s.top_k(q, n).collect()]
        if name in EMPTY:
            assert got == [] and want == [], name
            continue
        assert want, name  # every other shape has hits on this corpus
        if s.scoring == "double":
            # double sums may reassociate in the last ulp: rank both
            # sides by their float32 score, ties by doc_id
            got = sorted(got, key=lambda x: (-np.float32(x[1]), x[0]))
            want = sorted(want, key=lambda x: (-np.float32(x[1]), x[0]))
        assert _bits(got) == _bits(want), name


def _bits(rows):
    return [(d, np.float32(v).view(np.uint32)) for d, v in rows]


SEARCHERS = {
    "default": {},
    "double": {"scoring": "double"},
    "classic": {"similarity": "classic"},
}


@pytest.mark.parametrize("config", list(SEARCHERS))
def test_term_bool_matches_reference(plain, config):
    # scoring settings do not change a doc set: filter context once
    _check(Searcher(plain, **SEARCHERS[config]), batch=config != "default",
           filter_context=config == "default")


@pytest.mark.parametrize("index_kind", ["deleted", "two_segments"])
def test_term_bool_matches_reference_on(index_kind, request):
    index = request.getfixturevalue(index_kind)
    if index_kind == "deleted":
        assert index.deletes is not None
    else:
        assert len(index._postings_path) == 2
    _check(Searcher(index), batch=True)


def test_term_bool_takes_one_scan(plain):
    """Every shape above, bar the two proven empty, takes the one-scan
    plan; a phrase clause keeps the join tree."""
    from lucene_spark.search import PhraseQ
    from lucene_spark.search import plans as P

    s = Searcher(plain)
    for name, q in SHAPES.items():
        st = s._term_bool_state(P.rewrite(q))
        assert st == "empty" if name in EMPTY else isinstance(st, dict), name
    assert s._term_bool_state(
        BoolQ(must=(TermQ("import"), PhraseQ(("import", "os"))))
    ) is None


def test_count_honours_min_should_match(spark, tmp_path):
    """Filter context keeps BooleanQuery's minimum-should-match: a
    count equals the number of top_k hits."""
    d = str(tmp_path / "msm_count")
    build_index(spark, spark.createDataFrame(make_corpus(200, seed=5)), d,
                **BUILD)
    s = Searcher(Index(spark, d))
    for q, want in (
        (BoolQ(should=(TermQ("license"), TermQ("file"), TermQ("the")),
               min_should_match=2), 118),
        (BoolQ(must=(TermQ("license"),), should=(TermQ("file"),),
               min_should_match=1), 51),
    ):
        assert s.top_k(q, 200).count() == want, q
        assert s.count(q) == want, q
