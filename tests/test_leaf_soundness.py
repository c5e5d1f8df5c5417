"""Soundness of the leaf plan's local cut (ROADMAP direction 5).

Term-leaf booleans, phrases, synonyms, term automata and interval
(span) queries run one grouped call per salt that keeps only the salt's
top k (Searcher._leaf_scored); a single term skips the blocks that
cannot beat its running top k. A cut is sound only if it is taken on
the final score (boost and float casts applied), after deletes and
candidate filters, with ties at rank k broken on doc_id.
This module checks ``top_k(q, k)`` against two references that share no
code with the cut:

- ``PandasOracle``: the naive single-node scorer over the index's own
  corpus snapshot, deleted docs removed;
- the uncut plan: ``scored(q, None)`` collected and sorted.

It covers one-salt, 64-row-salt and two-segment indexes, hard deletes
(one salt) and soft deletes (64-row salts), ``candidates`` (rescore),
``field_filters``, ``top_k_batch``, boosts, a repeated-term phrase, and
a block of identical documents whose scores tie across rank k in every
salt.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_spark.corpus import make_corpus
from lucene_spark.index import (Index, append_to_index, build_index,
                                delete_docs, soft_delete_docs)
from lucene_spark.oracle import PandasOracle
from lucene_spark.search import (BoolQ, BoostQ, FieldFilter, MultiPhraseQ,
                                 PhraseQ, Searcher, SpanNearQ, SpanTermQ,
                                 SynonymQ, TermAutomatonQ, TermQ)

K = 5
ORDER = ["repo", "path", "commit"]
BUILD = dict(text_col="content", order_cols=ORDER, keep_cols=["lang"],
             num_buckets=4)
REPEATS = ["get get value", "get value get get value", "value get get",
           "get x get value", "get get get value value", "get get value get get value"]


def _corpus():
    """make_corpus rows plus repeated-term phrase docs and 40 identical
    docs whose repos interleave with the others', so their docIDs (and
    their tied scores) spread over every 64-row salt."""
    pdf = make_corpus(300, seed=21)
    extra = []
    for i, text in enumerate(REPEATS):
        extra.append((f"org{i}/proj{i}", f"src/rep/R{i}.py",
                      hashlib.sha1(f"r{i}".encode()).hexdigest(), "py", text))
    for i in range(40):
        extra.append((f"org{i % 37}/proj{i % 11}", f"src/tie/T{i}.py",
                      hashlib.sha1(f"t{i}".encode()).hexdigest(),
                      "py" if i % 2 else "go", "tie_term alpha_tie tie_term"))
    return pd.concat([pdf, pd.DataFrame(extra, columns=pdf.columns)],
                     ignore_index=True)


QUERIES = {
    "term_hot": TermQ("the"),
    "term_tie": TermQ("tie_term"),
    "or": BoolQ(should=(TermQ("import"), TermQ("var_17"))),
    "and": BoolQ(must=(TermQ("import"), TermQ("return"))),
    "must_not": BoolQ(must=(TermQ("import"),), must_not=(TermQ("self"),)),
    "msm": BoolQ(should=(TermQ("the"), TermQ("self"), TermQ("var_17")),
                 min_should_match=2),
    "boosted": BoolQ(must=(TermQ("return", boost=1.3),),
                     should=(TermQ("self", boost=0.7),), boost=1.7),
    "tie_or": BoolQ(should=(TermQ("tie_term"), TermQ("alpha_tie"))),
    "phrase_hot": PhraseQ(("the", "license")),
    "phrase_3": PhraseQ(("apache", "license", "version")),
    "phrase_repeat": PhraseQ(("get", "get", "value")),
    "sloppy": PhraseQ(("license", "apache"), slop=2),
    "sloppy_repeat": PhraseQ(("get", "get", "value"), slop=1),
    "multi": MultiPhraseQ((("the", "this"), ("license", "file"))),
    "tie_phrase": PhraseQ(("tie_term", "alpha_tie")),
}
# compared with the uncut plan only: a BoostQuery over a leaf query, and
# the leaf families the oracle does not score
UNCUT_ONLY = {
    "boost_query": BoostQ(QUERIES["or"], 0.3),
    "synonym": SynonymQ(("license", "file")),
    "automaton": TermAutomatonQ(4, ((0, 1, "apache"), (1, 2, "license"),
                                    (2, 3, "version")), (3,)),
    "interval": SpanNearQ((SpanTermQ("apache"), SpanTermQ("license")), slop=2),
}


def _oracle_scores(o: PandasOracle, name: str) -> dict:
    q = QUERIES[name]
    if isinstance(q, TermQ):
        return o.term_scores(q.term, q.boost)
    if isinstance(q, BoolQ):
        must = [o.term_scores(c.term, c.boost) for c in q.must]
        should = [o.term_scores(c.term, c.boost) for c in q.should]
        excluded = set().union(*(o.postings.get(c.term, {}) for c in q.must_not))
        msm = q.min_should_match if must else max(1, q.min_should_match)
        cand = (set.intersection(*(set(m) for m in must)) if must
                else set().union(*should))
        out = {}
        for d in cand - excluded:
            hits = [float(s[d]) for s in should if d in s]
            if len(hits) < msm:
                continue
            m_sum = sum(float(m[d]) for m in must)
            s_sum = float(np.float32(sum(hits)))
            if must and should:
                total = np.float32(m_sum + s_sum)
            elif must:
                total = np.float32(m_sum) if len(must) > 1 else m_sum
            else:
                total = np.float32(s_sum)
            out[d] = np.float32(np.float32(total) * np.float32(q.boost))
        return out
    if isinstance(q, MultiPhraseQ):
        return o.multiphrase_scores(list(q.positions), q.slop)
    if q.slop:
        return o.multiphrase_scores([(t,) for t in q.terms], q.slop)
    return o.phrase_scores(list(q.terms))


def _bits(rows):
    return [(int(d), np.float32(s).view(np.uint32)) for d, s in rows]


def _ranked(rows, k=None):
    out = sorted(((int(r["doc_id"]), float(r["score"])) for r in rows),
                 key=lambda x: (-x[1], x[0]))
    return out if k is None else out[:k]


@pytest.fixture(scope="module")
def corpus():
    return _corpus()


def _victims(spark, d):
    """Docs to delete: the two best hits of every query (so a leaf that
    cut before masking deletes would return too few) and the 8
    lowest-docID tie docs (they outrank every other tie doc)."""
    s = Searcher(Index(spark, d))
    out = set()
    for q in QUERIES.values():
        out |= {d for d, _ in _ranked(s.scored(q).collect(), 2)}
    tie = sorted(r["doc_id"] for r in s.doc_set(TermQ("tie_term")).collect())
    out |= set(tie[:8])
    return spark.createDataFrame([(int(x),) for x in sorted(out)], "doc_id long")


@pytest.fixture(scope="module")
def indexes(spark, corpus, tmp_path_factory):
    df = spark.createDataFrame(corpus)
    out = {}

    def path(name):
        return str(tmp_path_factory.mktemp(f"leaf_{name}"))

    out["one_salt"] = path("one_salt")
    build_index(spark, df, out["one_salt"], **BUILD)
    out["salt64"] = path("salt64")
    build_index(spark, df, out["salt64"], salt_rows=64, **BUILD)
    out["two_segment"] = path("two_segment")
    # 200 docs fill salts 0-2 and half of salt 3, which the append shares
    build_index(spark, spark.createDataFrame(corpus.iloc[:200]),
                out["two_segment"], salt_rows=64, **BUILD)
    append_to_index(spark, spark.createDataFrame(corpus.iloc[200:]),
                    out["two_segment"], order_cols=ORDER)
    # hard deletes on one salt: a cut before the mask would lose hits
    out["hard_deletes"] = path("hard_deletes")
    build_index(spark, df, out["hard_deletes"], **BUILD)
    delete_docs(spark, out["hard_deletes"], _victims(spark, out["hard_deletes"]))
    out["soft_deletes"] = path("soft_deletes")
    build_index(spark, df, out["soft_deletes"], salt_rows=64,
                soft_deletes_field="__soft_del", **BUILD)
    soft_delete_docs(spark, out["soft_deletes"],
                     _victims(spark, out["soft_deletes"]))
    return out


@pytest.fixture(scope="module", params=["one_salt", "salt64", "two_segment",
                                        "hard_deletes", "soft_deletes"])
def case(request, spark, indexes):
    """(searcher, oracle over the index's corpus snapshot, live docs,
    doc -> lang)."""
    index = Index(spark, indexes[request.param])
    if request.param.endswith("deletes"):
        assert index.deletes is not None
    if request.param == "two_segment":
        assert len(index._postings_path) == 2
    one_salt = -(-index.max_doc // index.salt_rows) == 1
    assert one_salt == (request.param in ("one_salt", "hard_deletes"))
    snap = index.corpus.select("doc_id", "content", "lang").toPandas()
    dead = set() if index.deletes is None else {
        int(r["doc_id"]) for r in index.deletes.collect()}
    live = set(snap["doc_id"].astype(int)) - dead
    lang = dict(zip(snap["doc_id"].astype(int), snap["lang"]))
    return Searcher(index), PandasOracle(snap, text_col="content"), live, lang


def _want(o, live, name, keep=None, k=K):
    scores = {d: s for d, s in _oracle_scores(o, name).items()
              if d in live and (keep is None or d in keep)}
    return PandasOracle.top_k(scores, k)


def test_top_k_matches_oracle_and_uncut_plan(case):
    s, o, live, _lang = case
    queries = {**QUERIES, **UNCUT_ONLY}
    u = None
    for i, q in enumerate(queries.values()):
        part = s.scored(q).select(F.lit(i).alias("i"), "doc_id", "score")
        u = part if u is None else u.unionByName(part)
    uncut = {name: [] for name in queries}
    names = list(queries)
    for r in u.collect():
        uncut[names[r["i"]]].append(r)
    for name, q in queries.items():
        got = _ranked(s.top_k(q, K).collect())
        assert got, name
        assert _bits(got) == _bits(_ranked(uncut[name], K)), name
        if name in QUERIES:
            assert _bits(got) == _bits(_want(o, live, name)), name
    # the tie block: its K best are its K lowest live docIDs
    ties = sorted(d for d, _ in _ranked(uncut["tie_or"]))[:K]
    assert [d for d, _ in _ranked(s.top_k(QUERIES["tie_or"], K).collect())] == ties


def test_top_k_batch_matches_oracle(case):
    s, o, live, _lang = case
    got: dict = {name: [] for name in QUERIES}
    for r in s.top_k_batch(QUERIES, K).collect():
        got[r["query_id"]].append((r["rank"], int(r["doc_id"]), float(r["score"])))
    for name in QUERIES:
        rows = [(d, v) for _r, d, v in sorted(got[name])]
        assert _bits(rows) == _bits(_want(o, live, name)), name


def test_field_filters_and_candidates(case):
    s, o, live, lang = case
    py = {d for d, v in lang.items() if v == "py"}
    for name, q in QUERIES.items():
        got = _ranked(s.top_k(q, K, field_filters=(FieldFilter("lang", "=", "py"),))
                      .collect())
        assert _bits(got) == _bits(_want(o, live, name, keep=py)), name
        # rescore allow-list: every third doc that matches at all
        matches = sorted(_oracle_scores(o, name))
        cands = matches[::3]
        got = _ranked(s.scored(q, K, candidates=cands).collect(), K)
        assert _bits(got) == _bits(_want(o, live, name, keep=set(cands))), name
