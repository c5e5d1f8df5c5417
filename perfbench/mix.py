"""Seeded query mix and its oracle answers.

Terms are drawn by document-frequency band from the corpus's own
vocabulary, so every seed yields queries of the same shape over a
different corpus. Expected answers come from the naive single-node
`lucene_spark.oracle.PandasOracle`: the same doc_ids in the same order and
bit-equal float32 scores.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from lucene_spark import bm25
from lucene_spark.analysis import tokenize
from lucene_spark.oracle import PandasOracle
from lucene_spark.search import BoolQ, PhraseQ, SynonymQ, TermQ

FAMILIES = ("term", "term_hot", "bool_or", "bool_and", "bool_not", "msm",
            "phrase", "synonym")
ORDER_COLS = ["repo", "path", "commit"]
K = 10
HOT_DF = 0.5  # df >= HOT_DF * N: the hot band
MID_DF = 0.02  # MID_DF * N <= df < HOT_DF * N: the mid band


def oracle_for(pdf: pd.DataFrame) -> PandasOracle:
    """Oracle over the corpus, docIDs in the engine's ingest order."""
    opdf = pdf.sort_values(ORDER_COLS).reset_index(drop=True)
    opdf["doc_id"] = np.arange(len(opdf), dtype=np.int64)
    return PandasOracle(opdf, text_col="content")


class QueryMix:
    """Rounds of one query per family, generated from ``seed``."""

    def __init__(self, pdf: pd.DataFrame, oracle: PandasOracle, seed: int):
        self.oracle = oracle
        self.rng = np.random.default_rng(seed)
        self.texts = pdf["content"].tolist()
        n = oracle.N
        df = {t: len(pl) for t, pl in oracle.postings.items()}
        self.hot = sorted(t for t, d in df.items() if d >= HOT_DF * n)
        self.mid = sorted(t for t, d in df.items() if MID_DF * n <= d < HOT_DF * n)
        if len(self.hot) < 2 or len(self.mid) < 4:
            raise ValueError(f"corpus too small for the mix: {len(self.hot)} hot, "
                             f"{len(self.mid)} mid terms")

    def _pick(self, band: list[str], k: int) -> list[str]:
        return [band[i] for i in self.rng.choice(len(band), size=k, replace=False)]

    def _bigram(self) -> tuple[str, str]:
        """Two adjacent tokens of a random document, so the phrase matches."""
        while True:
            terms, positions = tokenize(self.texts[self.rng.integers(len(self.texts))])
            adj = [i for i in range(len(terms) - 1)
                   if positions[i + 1] == positions[i] + 1 and terms[i] != terms[i + 1]]
            if adj:
                i = adj[self.rng.integers(len(adj))]
                return terms[i], terms[i + 1]

    def make(self, family: str):
        if family == "term":
            return TermQ(self._pick(self.mid, 1)[0])
        if family == "term_hot":
            return TermQ(self._pick(self.hot, 1)[0])
        if family == "bool_or":
            return BoolQ(should=tuple(TermQ(t) for t in self._pick(self.mid, 2)))
        if family == "bool_and":
            return BoolQ(must=(TermQ(self._pick(self.hot, 1)[0]),
                               TermQ(self._pick(self.mid, 1)[0])))
        if family == "bool_not":
            return BoolQ(must=(TermQ(self._pick(self.mid, 1)[0]),),
                         must_not=(TermQ(self._pick(self.hot, 1)[0]),))
        if family == "msm":
            return BoolQ(should=tuple(TermQ(t) for t in self._pick(self.mid, 3)),
                         min_should_match=2)
        if family == "phrase":
            return PhraseQ(self._bigram())
        if family == "synonym":
            return SynonymQ(tuple(self._pick(self.mid, 2)))
        raise ValueError(family)

    def round(self) -> list[tuple[str, object]]:
        return [(f, self.make(f)) for f in FAMILIES]

    # --- expected answers ---------------------------------------------

    def _synonym_scores(self, terms) -> dict:
        """SynonymQuery: df = max over terms, per-doc freq = summed."""
        o = self.oracle
        pls = [o.postings.get(t, {}) for t in terms]
        df_max = max(len(pl) for pl in pls)
        if not df_max:
            return {}
        w = bm25.idf(df_max, o.doc_count)
        freq: dict[int, int] = {}
        for pl in pls:
            for d, ps in pl.items():
                freq[d] = freq.get(d, 0) + len(ps)
        return {d: bm25.score(np.array([f]), np.array([o.norms[d]]), w, o.cache)[0]
                for d, f in freq.items()}

    def scores(self, family: str, q) -> dict:
        o = self.oracle
        if family in ("term", "term_hot"):
            return o.term_scores(q.term)
        if family == "bool_or":
            return o.or_scores([o.term_scores(c.term) for c in q.should])
        if family == "bool_and":
            return o.and_scores([o.term_scores(c.term) for c in q.must])
        if family == "bool_not":
            excl = set(o.term_scores(q.must_not[0].term))
            return {d: s for d, s in o.term_scores(q.must[0].term).items()
                    if d not in excl}
        if family == "msm":
            clauses = [o.term_scores(c.term) for c in q.should]
            total = o.or_scores(clauses)
            return {d: s for d, s in total.items()
                    if sum(d in c for c in clauses) >= q.min_should_match}
        if family == "phrase":
            return o.phrase_scores(list(q.terms))
        if family == "synonym":
            return self._synonym_scores(q.terms)
        raise ValueError(family)

    def expected(self, family: str, q) -> list[tuple[int, np.float32]]:
        return [(d, np.float32(s))
                for d, s in PandasOracle.top_k(self.scores(family, q), K)]


def hits_match(got: list[tuple[int, float]], want: list[tuple[int, np.float32]]) -> bool:
    """Same doc_ids in the same order, bit-equal float32 scores."""
    return len(got) == len(want) and all(
        gd == wd and np.float32(gs) == ws for (gd, gs), (wd, ws) in zip(got, want)
    )
