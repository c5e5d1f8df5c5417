"""Physical query execution over the postings tables — the
IndexSearcher / Weight / Scorer analog (search/IndexSearcher.java:660-712).

Execution shape per SURVEY.md §3.2: the plan build reads global term
stats on the driver (the createWeight statistics pass,
TermQuery.java:61-64, no Spark job), then one bucket-pruned scan of the
postings Parquet feeds numpy float32 BM25 (bm25.py) in Python workers,
and Spark's TakeOrderedAndProject keeps the top k by (score desc, docID
asc), the tie-break of search/HitQueue.java:78-84.

- Single terms decode and score in one mapInPandas; top-k skips blocks
  whose impact max cannot beat the running local top-k (ImpactsDISI
  .advanceShallow, search/ImpactsDISI.java:61-91, at block granularity).
- Term-leaf booleans, synonyms and every position family (phrases,
  term automata, intervals and spans, payload queries) run
  leaf-at-a-time: a salt is a docID range like a Lucene leaf, one
  grouped call per salt decodes, matches, scores and keeps the salt's
  top k, and TakeOrderedAndProject merges the leaves (TopDocs.merge).
  See Searcher._leaf_scored.
- Other families compose per-clause plans with joins and aggregates.

Two scoring modes:
- 'lucene': float32-exact reference arithmetic (BM25Similarity.java:246).
- 'double': same formula in float64 — used only for cross-checking
  results against an ANSI-SQL oracle that computes in double.
"""

from __future__ import annotations

from collections import Counter

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lucene_spark import bm25
from lucene_spark.codec import decode_block, decode_value_stream
from lucene_spark.index.reader import Index
from lucene_spark.search import plans as P
from lucene_spark.search.sloppy import sloppy_phrase_freq
from lucene_spark.smallfloat import LENGTH_TABLE

_SCORE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)
_DOCS_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType())])
_FREQ_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("freq", T.IntegerType()),
        T.StructField("norm", T.IntegerType()),
    ]
)
# Leaves whose doc set is their own plan (Searcher._doc_set_uncached):
# predicates over the docs table, and the multi-term queries whose
# constant-score rewrite (TermInSetQ's only one) scored() builds on the
# doc set. Every other query's doc set is its scored plan's doc_id column.
_DOC_PREDICATES = (P.FieldFilter, P.GeoBoxQ, P.GeoDistanceQ, P.ShapeQ)
_MULTI_TERM = (P.PrefixQ, P.WildcardQ, P.RegexpQ, P.TermRangeQ, P.TermInSetQ)


def empty_frame(spark, schema: T.StructType) -> DataFrame:
    """A zero-row frame of ``schema`` planned in the JVM alone;
    ``createDataFrame([])`` scans a PythonRDD, which runs Python tasks
    only to return nothing."""
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def _constant_score_multiterm(q) -> bool:
    return (isinstance(q, _MULTI_TERM)
            and getattr(q, "rewrite", "constant_score") == "constant_score")


def _key_field(k) -> str | None:
    """Leaf-key field: keys are bare terms (default field) or
    (field, term) tuples (FieldMaskingSpanQ-scoped leaves)."""
    return k[0] if isinstance(k, tuple) else None


def _key_term(k) -> str:
    return k[1] if isinstance(k, tuple) else k


def _by_field(keys) -> dict:
    """Group leaf keys by field, preserving order: {field|None: [terms]}."""
    out: dict = {}
    for k in keys:
        out.setdefault(_key_field(k), []).append(_key_term(k))
    return out


def _edit_distance(a: str, b: str, transpositions: bool) -> int:
    """Levenshtein, or unrestricted Damerau-Levenshtein when
    `transpositions` (matches DuckDB damerau_levenshtein; see FuzzyQ
    docstring for the documented OSA-variant deviation from Lucene's
    parametric automaton)."""
    la, lb = len(a), len(b)
    if not transpositions:
        prev = list(range(lb + 1))
        for i in range(1, la + 1):
            cur = [i] + [0] * lb
            ca = a[i - 1]
            for j in range(1, lb + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (ca != b[j - 1]),
                )
            prev = cur
        return prev[lb]
    # unrestricted Damerau (alphabet + last-row tracking)
    inf = la + lb
    da: dict[str, int] = {}
    d = [[0] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = inf
    for i in range(la + 1):
        d[i + 1][0] = inf
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[0][j + 1] = inf
        d[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            i1 = da.get(b[j - 1], 0)
            j1 = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[i1][j1] + (i - i1 - 1) + 1 + (j - j1 - 1),
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def _impact_max(score, impacts, weight) -> float:
    """Max of a block scorer over the block's competitive (freq, norm)
    impacts — its score upper bound (MaxScoreCache.java:70-108)."""
    f = np.array([p["freq"] for p in impacts], dtype=np.float32)
    nm = np.array([p["norm"] for p in impacts], dtype=np.int64)
    return float(np.max(score(f, nm, weight)))


# clause kinds of a term-leaf BoolQ's terms (Searcher._term_bool_state)
_MUST, _SHOULD, _FILTER, _MUST_NOT = 0, 1, 2, 3


def _local_top_k(docs: np.ndarray, scores: np.ndarray, k: int | None):
    """One leaf's cut: its ``k`` best hits by (score desc, doc_id asc),
    every hit when ``k`` is None. A leaf holds every match of its docID
    range, so the top k of the leaves' top ks is the global top k, ties
    at rank k included (TopDocs.merge)."""
    if k is None or len(docs) <= k:
        return docs, scores
    keep = np.lexsort((docs, -scores))[:k]
    return docs[keep], scores[keep]


def _bool_leaf(kinds: dict, weights: dict, score, msm: int, lucene: bool,
               boost: float):
    """Per-salt evaluator of a term-leaf BoolQ (Searcher._term_bool_plan):
    every term's rows decode into dense arrays indexed by ``doc_id -
    base`` (BooleanScorer's bucket window, one salt wide); returns the
    salt's (doc_ids, final scores).

    A hit matches every MUST and FILTER term, no MUST_NOT term and at
    least ``msm`` SHOULD terms. Float rules are the join tree's: float32
    clause scores summed in double in clause order; MUST sums stay
    uncast; the SHOULD sum is cast to float before it is added to MUST
    (DisjunctionSumScorer.java:38-44); the total is cast when more than
    one MUST or a MUST+SHOULD mix adds up; the boost is a float32
    multiply (Searcher._boosted). numpy's float32 rounding is Spark's."""
    n = Counter(kinds.values())

    def as_float(x):
        return x.astype(np.float32).astype(np.float64) if lucene else x

    def evaluate(pdf: pd.DataFrame, base: int, width: int):
        cnt = {kd: np.zeros(width, np.int32) for kd in n}
        sums = {_MUST: np.zeros(width), _SHOULD: np.zeros(width)}
        rows = sorted(zip(pdf["term"], pdf["blocks"]), key=lambda r: kinds_order[r[0]])
        for term, blocks in rows:
            kd, w = kinds[term], weights.get(term)
            for blk in blocks:
                d, f, nm = decode_block(blk)
                i = d - base  # a doc occurs once per term
                cnt[kd][i] += 1
                if w is not None:
                    sums[kd][i] += score(f, nm, w)
        keep = np.ones(width, bool)
        if n[_MUST]:
            keep &= cnt[_MUST] == n[_MUST]
        if n[_SHOULD] and msm > 0:
            keep &= cnt[_SHOULD] >= msm
        if n[_FILTER]:
            keep &= cnt[_FILTER] == n[_FILTER]
        if n[_MUST_NOT]:
            keep &= cnt[_MUST_NOT] == 0
        idx = np.flatnonzero(keep)
        m_sum, s_sum = sums[_MUST][idx], sums[_SHOULD][idx]
        if n[_MUST] and n[_SHOULD]:
            total = as_float(m_sum + as_float(s_sum))
        elif n[_MUST]:
            total = as_float(m_sum) if n[_MUST] > 1 else m_sum
        else:
            total = as_float(s_sum)
        if boost != 1.0:
            total = ((total.astype(np.float32) * np.float32(boost)).astype(np.float64)
                     if lucene else total * boost)
        return base + idx, total

    kinds_order = {t: i for i, t in enumerate(kinds)}
    return evaluate


def _survivor_positions(pdf: pd.DataFrame, keys: list, fields: list,
                        slot_spec: list, base: int, width: int,
                        payloads: bool = False):
    """The per-salt decode every position family shares (TwoPhaseIterator
    pattern): each row's doc blocks decode, the slots' docIDs intersect
    (np.intersect1d, rarest slot first; no slots: every doc of every
    key), then positions, and with ``payloads`` the f32 payloads aligned
    to them, decode only in rows holding a survivor.

    Rows come from Searcher._positions_scored: a row's key is ``(fields[fi],
    term)``, matched against ``keys`` (bare terms, or (field, term)
    FieldMaskingSpanQ leaves); ``slot_spec`` lists per slot the indexes
    into ``keys`` of its alternatives. Returns None when no doc survives,
    else ``(surv, norms, local, vals)``: the survivors' local docIDs
    ascending, each local doc's norm (the default field's where fields
    differ), and per key index the local doc of every survivor position
    with ``vals`` = [positions] or [positions, payloads] aligned to it."""
    idx_of = {(_key_field(k), _key_term(k)): i for i, k in enumerate(keys)}
    norms = np.zeros(width, np.uint8)
    rows = []  # (key idx, local docs, freqs, row)
    for r in sorted(pdf.itertuples(index=False), key=lambda r: fields[r.fi] is None):
        parts = [decode_block(blk) for blk in r.blocks]
        if not parts:
            continue
        d = np.concatenate([p[0] for p in parts]) - base
        norms[d] = np.concatenate([p[2] for p in parts])
        rows.append((idx_of[(fields[r.fi], r.term)], d,
                     np.concatenate([p[1] for p in parts]), r))
    docs: dict = {}
    for ki, d, _f, _r in rows:
        docs.setdefault(ki, []).append(d)
    slot_docs = []
    for idxs in dict.fromkeys(tuple(s) for s in (slot_spec or [list(docs)])):
        ds = [d for i in idxs for d in docs.get(i, ())]
        if not ds:
            return None
        slot_docs.append(np.unique(np.concatenate(ds)))
    slot_docs.sort(key=len)
    surv = slot_docs[0]
    for sd in slot_docs[1:]:
        surv = np.intersect1d(surv, sd, assume_unique=True)
    if not len(surv):
        return None
    local: dict = {}
    vals = [{} for _ in range(2 if payloads else 1)]
    for ki, d, f, r in rows:
        sel = np.flatnonzero(np.isin(d, surv, assume_unique=True))
        if not len(sel):
            continue
        p_all, starts = _positions_flat(r.pos, f)
        lens = f[sel]
        at = np.repeat(starts[sel] - (np.cumsum(lens) - lens), lens)
        at += np.arange(len(at))
        local.setdefault(ki, []).append(np.repeat(d[sel], lens))
        vals[0].setdefault(ki, []).append(p_all[at])
        if payloads:
            pay = decode_value_stream(bytes(r.pay)).astype(np.uint32).view(np.float32)
            vals[1].setdefault(ki, []).append(pay[at].astype(np.float64))

    def cat(m):
        return {ki: np.concatenate(v) for ki, v in sorted(m.items())}

    return surv, norms, cat(local), [cat(v) for v in vals]


def _per_doc(doc_value):
    """The ``freqs`` of a per-doc position family (_position_leaf):
    ``doc_value(positions[, payloads])`` for each survivor, over
    ``{key idx: array}`` maps cut to that doc (keys absent from it left
    out)."""

    def freqs(surv, local, vals):
        cut = {}
        for ki, loc in local.items():
            order = np.argsort(loc, kind="stable")  # a doc's positions stay ascending
            loc = loc[order]
            cut[ki] = ([v[ki][order] for v in vals],
                       np.searchsorted(loc, surv, "left"),
                       np.searchsorted(loc, surv, "right"))
        out = np.zeros(len(surv))
        for j in range(len(surv)):
            maps = [{} for _ in vals]
            for ki, (arrs, lo, hi) in cut.items():
                if lo[j] < hi[j]:
                    for m, a in zip(maps, arrs):
                        m[ki] = a[lo[j]:hi[j]]
            out[j] = doc_value(*maps)
        return out

    return freqs


def _phrase_freqs(slot_spec: list, offsets: list, slop: int):
    """The ``freqs`` of a phrase (_position_leaf). Exact phrases (slop 0)
    count the starts ``p - offset >= 0`` present in every slot (a slot's
    positions are the union of its alternatives'), for all survivors at
    once on ``doc << 32 | start`` keys (ExactPhraseMatcher.java:166);
    sloppy ones call the reference matcher per survivor
    (sloppy.sloppy_phrase_freq) with the slot keys repeat detection
    needs: the key index for one-term slots, the frozenset of
    alternatives otherwise."""
    if slop:
        single = all(len(idxs) == 1 for idxs in slot_spec)

        def freq(pos):
            return sloppy_phrase_freq(
                [(idxs[0], pos[idxs[0]]) if single else
                 (frozenset(idxs), np.unique(np.concatenate([pos[i] for i in idxs if i in pos])))
                 for idxs in slot_spec], slop)

        return _per_doc(freq)

    def exact(surv, local, vals):
        cand = None
        for off, idxs in zip(offsets, slot_spec):
            parts = []
            for i in idxs:
                if i in local:
                    start = vals[0][i] - off
                    ok = start >= 0
                    parts.append((local[i][ok] << 32) | start[ok])
            keys = np.unique(np.concatenate(parts)) if parts else np.zeros(0, np.int64)
            cand = keys if cand is None else np.intersect1d(cand, keys, assume_unique=True)
        return np.bincount(cand >> 32, minlength=surv[-1] + 1)[surv].astype(np.float64)

    return exact


def _position_leaf(keys: list, fields: list, slot_spec: list, freqs, finish,
                   payloads: bool = False):
    """Per-salt evaluator of every position family (Searcher
    ._positions_scored): the survivors and their positions
    (_survivor_positions), ``freqs(surv, local, vals)`` -> one value per
    survivor (_phrase_freqs, _per_doc), then ``finish(values, norms)``
    -> (hit mask, final scores)."""

    def evaluate(pdf: pd.DataFrame, base: int, width: int):
        got = _survivor_positions(pdf, keys, fields, slot_spec, base, width,
                                  payloads)
        if got is None:
            return np.zeros(0, np.int64), np.zeros(0)
        surv, norms, local, vals = got
        hit, scores = finish(freqs(surv, local, vals), norms[surv])
        return base + surv[hit], scores

    return evaluate


def _freq_finish(score, weight):
    """``finish`` of the freq-valued position families: the docs whose
    freq is positive, scored once."""

    def finish(freq: np.ndarray, norms: np.ndarray):
        hit = freq > 0.0
        return hit, score(freq[hit], norms[hit], weight)

    return finish


def _synonym_leaf(weight, score):
    """Per-salt evaluator of a SynonymQ (Searcher._synonym_scored): every
    term's freqs summed per doc into one dense array, scored once as one
    pseudo-term."""

    def evaluate(pdf: pd.DataFrame, base: int, width: int):
        freq = np.zeros(width)
        norms = np.zeros(width, np.uint8)
        for blocks in pdf["blocks"]:
            for blk in blocks:
                d, f, nm = decode_block(blk)
                freq[d - base] += f  # a doc occurs once per row
                norms[d - base] = nm
        idx = np.flatnonzero(freq > 0.0)
        return base + idx, score(freq[idx], norms[idx], weight)

    return evaluate


def _positions_flat(pos_bin: bytes, freqs: np.ndarray):
    """pos stream -> (every position of the row's docs in doc order, the
    index of each doc's first position): a doc's first position is
    absolute, the rest are deltas."""
    d = decode_value_stream(bytes(pos_bin)).astype(np.int64)
    starts = (np.cumsum(freqs) - freqs).astype(np.int64)
    if len(d) == 0:
        return d, starts
    c = np.cumsum(d)
    return c - np.repeat(c[starts] - d[starts], freqs), starts


class Searcher:
    def __init__(self, index: Index, scoring: str = "lucene",
                 similarity: str | object | None = None,
                 query_cache=None, **sim_kwargs):
        assert scoring in ("lucene", "double")
        # IndexSearcher.setSimilarity analog: None = the default BM25
        # (float32 bit-parity path). Named similarities support both
        # modes: "double" is the oracle-checkable float64 path;
        # "lucene" applies the reference's float casts — SimilarityBase
        # computes the model in double and the SimScorer casts the final
        # value to float (SimilarityBase.java:218-225), so per-term
        # float32 final casts + the existing float-cast sum combine ARE
        # the reference float arithmetic (Classic overrides with TFIDF's
        # per-step float computation).
        if similarity is not None:
            from lucene_spark import similarities as _sims

            self.sim = _sims.by_name(similarity, **sim_kwargs)
        else:
            self.sim = None
        self.index = index
        self.scoring = scoring
        # LRUQueryCache analog (search/querycache.py): caches persisted
        # doc-set DataFrames for repeated filter-context queries
        self.query_cache = query_cache
        self._deletes = index.deletes  # None when nothing deleted

    def _live(self, df: DataFrame) -> DataFrame:
        """Mask deleted docs at the scorer leaf — exactly where the
        reference applies liveDocs (scorer.score(collector, liveDocs)).
        Broadcast anti join; no-op when the index has no deletes."""
        if self._deletes is None:
            return df
        return df.join(F.broadcast(self._deletes), "doc_id", "left_anti")

    def _leaf_scored(self, rows: DataFrame, evaluate, k: int | None,
                     candidates=None) -> DataFrame:
        """Leaf-at-a-time execution over salt shards: a salt is a docID
        range (``salt * salt_rows`` on), like a Lucene leaf. ``rows``
        (postings rows with ``salt``) are clustered by salt and one
        grouped-map call per salt runs ``evaluate(pdf, base, width)``
        -> (doc_ids, final scores), keeps the ``candidates``
        (rescore allow-list) and cuts the salt's top ``k``; the caller's
        TakeOrderedAndProject merges the salts (TopDocs.merge).

        One Python boundary per query. On a one-salt index a single
        partition already satisfies the grouping, so ``coalesce(1)``
        plans no Exchange; otherwise ``groupBy("salt")`` hash-partitions
        the compressed rows. Deletes are masked after the leaf, so with
        deletes every match is emitted: a leaf never cuts before liveDocs
        apply."""
        cut = k if self._deletes is None else None
        keep = (None if candidates is None
                else np.unique(np.asarray(list(candidates), dtype=np.int64)))
        width = self.index.salt_rows

        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            docs, scores = evaluate(pdf, int(pdf["salt"].iat[0]) * width, width)
            if keep is not None:
                hit = np.isin(docs, keep)
                docs, scores = docs[hit], scores[hit]
            docs, scores = _local_top_k(docs, scores, cut)
            return pd.DataFrame({"doc_id": docs.astype(np.int64),
                                 "score": scores.astype(np.float64)})

        if -(-self.index.max_doc // width) == 1:
            rows = rows.coalesce(1)
        return self._live(
            rows.groupBy("salt").applyInPandas(fn, schema=_SCORE_SCHEMA)
        )

    # ------------------------------------------------------------------
    # weights (createWeight analog: one-time global stats)
    # ------------------------------------------------------------------

    def _weight(self, df: int, boost: float, field: str | None = None,
                ttf: int = 0):
        """weight = boost * idf (BM25Similarity.java:242), idf against the
        FIELD's docCount (per-field CollectionStatistics). With a
        pluggable similarity installed the weight is that similarity's
        createWeight-time params tuple instead of a float."""
        if self.sim is not None:
            extra = ({"field": field}
                     if getattr(self.sim, "wants_field", False) else {})
            return self.sim.weight(
                df, ttf, self.index.doc_count_for(field),
                self.index.sum_ttf_for(field), boost, **extra,
            )
        dc = self.index.doc_count_for(field)
        if self.scoring == "lucene":
            return float(np.float32(boost) * bm25.idf(df, dc))
        return boost * bm25.idf_double(df, dc)

    def _combined_weight(self, dfs: list[int], boost: float,
                         field: str | None = None) -> float:
        """Multi-term weight: per-term float idfs summed in double
        (BM25Similarity.java:191-200)."""
        if self.sim is not None:
            extra = ({"field": field}
                     if getattr(self.sim, "wants_field", False) else {})
            return self.sim.combined_weight(
                [(n, 0) for n in dfs], self.index.doc_count_for(field),
                self.index.sum_ttf_for(field), boost, **extra,
            )
        dc = self.index.doc_count_for(field)
        if self.scoring == "lucene":
            return float(np.float32(boost) * bm25.combined_idf(dfs, dc))
        return boost * sum(bm25.idf_double(n, dc) for n in dfs)

    # ------------------------------------------------------------------
    # decode UDFs
    # ------------------------------------------------------------------

    def _scorer(self, field: str | None = None):
        """The one per-block scorer: ``score(freqs, norms, weight)`` ->
        float64 ndarray, in the searcher's scoring mode and similarity
        ("lucene" keeps the reference's float32 arithmetic; score
        columns are double either way). The closure captures only the
        similarity object, the field's norm cache and avgdl — never
        ``self`` — because it is pickled into mapInPandas / pandas_udf."""
        sim = self.sim

        def qdl(norms):
            return LENGTH_TABLE[np.asarray(norms, dtype=np.int64) & 0xFF]

        if sim is not None:
            if self.scoring == "lucene":
                return lambda f, nm, w: sim.score_f32(f, qdl(nm), w).astype(np.float64)
            return lambda f, nm, w: sim.score(f, qdl(nm), w)
        if self.scoring == "lucene":
            cache = self.index.cache_f32_for(field)
            return lambda f, nm, w: bm25.score(f, nm, np.float32(w), cache).astype(np.float64)
        avgdl = self.index.avgdl_dbl_for(field)
        return lambda f, nm, w: bm25.score_double(f, qdl(nm), w, avgdl)

    def _scored_term_rows(self, terms_weights: dict[str, float], k: int | None,
                          field: str | None = None) -> DataFrame:
        """postings rows for terms -> (doc_id, score) with block-max pruning.

        Pruning (single-term top-k only, k given, no deletes): skip
        blocks whose impact-derived max score can't enter the local
        running top-k (ImpactsDISI.java:61-91 / MaxScoreCache.java:70-108
        effect)."""
        # mapInPandas blocks column pruning: select what fn reads
        rows = self.index.postings_for_terms(list(terms_weights), field).select(
            "term", "blocks"
        )
        score = self._scorer(field)
        # deletes are masked after the decode: a running top-k over
        # deleted docs could skip blocks that hold live hits
        prune = k is not None and len(terms_weights) == 1 and self._deletes is None

        def fn(iterator):
            # running local top-k as a flat numpy array: threshold =
            # topk.min() once full; per-block update is one np.partition
            # (no per-score Python loop)
            topk = np.zeros(0, dtype=np.float64)
            threshold = -np.inf

            for pdf in iterator:
                out_docs, out_scores = [], []
                for row in pdf.itertuples(index=False):
                    w = terms_weights[row.term]
                    for blk in row.blocks:
                        if prune and len(topk) >= k and len(blk["impacts"]) > 0:
                            if _impact_max(score, blk["impacts"], w) <= threshold:
                                continue  # non-competitive block skipped
                        d, f, nm = decode_block(blk)
                        s = score(f, nm, w)
                        out_docs.append(d)
                        out_scores.append(s)
                        if prune:
                            merged = np.concatenate([topk, s])
                            if len(merged) > k:
                                merged = np.partition(merged, len(merged) - k)[-k:]
                            topk = merged
                            if len(topk) >= k:
                                threshold = float(topk.min())
                if out_docs:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(out_docs),
                            "score": np.concatenate(out_scores),
                        }
                    )

        return self._live(rows.mapInPandas(fn, schema=_SCORE_SCHEMA))

    def _doc_rows(self, terms: list[str] | None, field: str | None = None,
                  predicate=None) -> DataFrame:
        """Decoded (doc_id) rows, no freqs or scores: the postings of
        ``terms``, or with ``predicate`` of every dictionary term it
        matches — the MultiTermQuery constant-score path, a semi-join of
        the postings scan against the matching slice of the terms
        dictionary, broadcast (MultiTermQueryConstantScoreWrapper.java)."""
        if predicate is None:
            rows = self.index.postings_for_terms(terms, field)
        else:
            stats = self.index.term_stats
            rows = self.index.postings
            if self.index.has_field_column:
                fld = self.index.resolve_field(field)
                stats = stats.filter(F.col("field") == fld)
                rows = rows.filter(F.col("field") == fld)
            matching = stats.filter(predicate).select("term", "bucket")
            rows = rows.join(F.broadcast(matching), ["term", "bucket"], "left_semi")

        def fn(iterator):
            for pdf in iterator:
                outs = [decode_block(blk)[0] for blocks in pdf["blocks"] for blk in blocks]
                if outs:
                    yield pd.DataFrame({"doc_id": np.concatenate(outs)})

        return self._live(rows.select("blocks").mapInPandas(fn, schema=_DOCS_SCHEMA))

    def _stats_for_keys(self, keys: list) -> dict:
        """stats_for_terms over mixed-field leaf keys: one lookup per
        distinct field, results keyed back by leaf key."""
        out: dict = {}
        for fld, ts in _by_field(keys).items():
            s = self.index.stats_for_terms(ts, fld)
            for t, v in s.items():
                out[(fld, t) if fld else t] = v
        return out

    def _freq_rows(self, terms: list[str], field: str | None = None) -> DataFrame:
        """(doc_id, term, freq, norm) rows — synonym/blended scoring input."""
        rows = self.index.postings_for_terms(terms, field).select("term", "blocks")

        def fn(iterator):
            for pdf in iterator:
                parts = []
                for row in pdf.itertuples(index=False):
                    for blk in row.blocks:
                        d, f, nm = decode_block(blk)
                        parts.append(
                            pd.DataFrame(
                                {
                                    "doc_id": d,
                                    "term": row.term,
                                    "freq": f.astype(np.int32),
                                    "norm": nm.astype(np.int32),
                                }
                            )
                        )
                if parts:
                    yield pd.concat(parts)

        return self._live(rows.mapInPandas(fn, schema=_FREQ_SCHEMA))

    def _positions_scored(self, keys: list, slot_spec: list, freqs, finish,
                          k, candidates, field: str | None = None,
                          payloads: bool = False) -> DataFrame:
        """A position family's leaf plan (evaluator _position_leaf): the
        leaf keys' postings rows with positions (and payloads), one scan
        per field (bare keys read ``field``, (field, term) keys their
        own), unioned and tagged ``fi``, the index of the row's field in
        the evaluator's field list; then one grouped call per salt
        (_leaf_scored)."""
        if not self.index.manifest.get("with_positions", True):
            raise ValueError("index built without positions; phrase queries unavailable")
        if payloads and not self.index.manifest.get("with_payloads"):
            raise ValueError(
                "index built without payloads; rebuild with "
                'analyzer={"payloads": ...} for PayloadScoreQuery'
            )
        groups = _by_field(keys)
        rows = None
        for i, (fld, ts) in enumerate(groups.items()):
            r = self.index.postings_for_terms(ts, field if fld is None else fld).select(
                "salt", "term", "blocks", "pos", *(["pay"] if payloads else []),
                F.lit(i).alias("fi"),
            )
            rows = r if rows is None else rows.unionByName(r)
        evaluate = _position_leaf(keys, list(groups), slot_spec, freqs, finish, payloads)
        return self._leaf_scored(rows, evaluate, k, candidates)

    # ------------------------------------------------------------------
    # scored plans
    # ------------------------------------------------------------------

    def scored(self, q, k: int | None = None, candidates: list[int] | None = None) -> DataFrame:
        """Plan node -> DataFrame(doc_id, score). Recursive Weight tree.

        `candidates`: optional small docID allow-list (the QueryRescorer
        second pass, search/QueryRescorer.java:62-80 — the rescorer
        advances scorers only over the top-N first-pass docs). Applied at
        every leaf right after decode, BEFORE any shuffle/aggregation, so
        a rescore never pays a full-corpus second-pass shuffle."""
        q = P.rewrite(q)
        if isinstance(q, P.TermQ):
            stats = self.index.stats_for_terms([q.term], q.field)
            if q.term not in stats:
                return self._empty_scored()
            w = self._weight(stats[q.term][0], q.boost, q.field,
                             ttf=stats[q.term][1])
            # the allow-list drops docs after the decode: prune only without it
            return self._cand(self._scored_term_rows(
                {q.term: w}, None if candidates else k, q.field), candidates)
        if isinstance(q, P.SynonymQ):
            return self._synonym_scored(q, k, candidates)
        if isinstance(q, P.BlendedTermQ):
            return self._cand(self._blended_scored(q), candidates)
        if isinstance(q, (P.PhraseQ, P.MultiPhraseQ)):
            return self._phrase_scored(q, k, candidates)
        if isinstance(q, P.PhraseWildcardQ):
            mp = self._phrase_wildcard_multiphrase(q)
            if mp is None:
                return self._empty_scored()
            return self._phrase_scored(mp, k, candidates)
        if isinstance(q, P.TermAutomatonQ):
            return self._term_automaton_scored(q, k, candidates)
        if isinstance(q, P.CommonTermsQ):
            return self.scored(self._rewrite_common_terms(q), k, candidates)
        if isinstance(q, P.IntervalQ):
            return self._interval_scored(q, k, candidates)
        if isinstance(q, P.PayloadScoreQ):
            return self._payload_scored(q, k, candidates)
        if isinstance(q, P.SpanPayloadCheckQ):
            return self._payload_check_scored(q, k, candidates)
        if isinstance(q, P.FeatureQ):
            feat = F.col(q.col).cast("double")
            if q.fn == "saturation":
                expr = F.lit(float(q.boost)) * feat / (feat + F.lit(float(q.pivot)))
            elif q.fn == "log":
                expr = F.lit(float(q.boost)) * F.log(F.lit(float(q.pivot)) + feat)
            elif q.fn == "sigmoid":
                # FeatureField.java:440-452: 1 - k^a / (f^a + k^a)
                pivot_pa = F.lit(float(q.pivot) ** float(q.a))
                expr = F.lit(float(q.boost)) * (
                    F.lit(1.0) - pivot_pa / (F.pow(feat, F.lit(float(q.a))) + pivot_pa)
                )
            else:
                raise ValueError(q.fn)
            return self._docs_scored(feat.isNotNull(), expr, candidates)
        if isinstance(q, P.DistanceFeatureQ):
            # LongDistanceFeatureQuery.java:117: score = boost *
            # pivot / (pivot + |value - origin|), double math, one
            # final float rounding.
            val = F.col(q.col).cast("double")
            # Evaluation order matches the reference: boost * (pivot /
            # (pivot + dist)) — the division rounds first, then the
            # boost multiply (LongDistanceFeatureQuery.java:117).
            expr = F.lit(float(q.boost)) * (
                F.lit(float(q.pivot))
                / (F.lit(float(q.pivot)) + F.abs(val - F.lit(float(q.origin))))
            )
            return self._docs_scored(val.isNotNull(), expr, candidates)
        if isinstance(q, P.GeoDistanceFeatureQ):
            # LatLonPointDistanceFeatureQuery.java:130-131: haversine
            # meters from the origin through the same pulse.
            from lucene_spark.geo import haversine_meters

            dist = haversine_meters(q.lat_col, q.lon_col, q.lat, q.lon)
            # boost * (pivot / (pivot + d)) — division rounds before the
            # boost multiply (LatLonPointDistanceFeatureQuery.java:271).
            expr = F.lit(float(q.boost)) * (
                F.lit(float(q.pivot_m)) / (F.lit(float(q.pivot_m)) + dist)
            )
            present = F.col(q.lat_col).isNotNull() & F.col(q.lon_col).isNotNull()
            return self._docs_scored(present, expr, candidates)
        if isinstance(q, P.FunctionScoreQ):
            # FunctionScoreQuery.createWeight: inner supplies the match
            # set, score comes from the values source (replace) or
            # inner * source (boostByValue). k is NOT forwarded: the
            # transformed score reorders docs, so inner-side block-max
            # pruning against the BM25 ranking would be unsound (the
            # reference likewise never propagates setMinCompetitiveScore
            # through the score transform).
            inner = self.scored(q.inner, None, candidates)
            src = F.expr(q.source).cast("double") * F.lit(float(q.boost))
            new_score = src if q.mode == "replace" else F.col("score") * src
            if self.scoring == "lucene":
                new_score = new_score.cast("float").cast("double")
            return (
                inner.join(self.index.docs, "doc_id")
                .select("doc_id", new_score.alias("score"))
            )
        if isinstance(q, P.BoolQ):
            return self._bool_scored(q, k, candidates)
        if isinstance(q, P.DisMaxQ):
            return self._dismax_scored(q, candidates=candidates)
        if isinstance(q, P.CoveringQ):
            return self._covering_scored(q, candidates=candidates)
        if isinstance(q, P.CombinedFieldQ):
            return self._cand(self._combined_field_scored(q), candidates)
        if isinstance(q, P.ConstScoreQ):
            return self._cand(
                self.doc_set(q.inner).withColumn("score", F.lit(float(q.boost))), candidates
            )
        if isinstance(q, P.BoostQ):
            # a float32 multiply can tie scores the inner ranking kept
            # apart, and ties break on doc_id: an inner cut at k is sound
            # only when the boost is 1
            inner_k = k if q.boost == 1.0 else None
            return self._boosted(self.scored(q.inner, inner_k, candidates), q.boost)
        if isinstance(q, P.MatchAllQ):
            return self._cand(
                self._live(self.index.docs.select("doc_id")).withColumn(
                    "score", F.lit(float(q.boost))
                ),
                candidates,
            )
        if isinstance(q, P.FuzzyQ):
            # reference default: TopTermsBlendedFreqScoringRewrite
            # (FuzzyQuery.java:52) — scored, not constant-score
            return self._cand(self._fuzzy_scored(q), candidates)
        if isinstance(q, P.FuzzyLikeThisQ):
            return self._cand(self._fuzzy_like_this_scored(q), candidates)
        if isinstance(q, _DOC_PREDICATES) or _constant_score_multiterm(q):
            # ConstantScoreWeight over the doc set: the multi-term
            # CONSTANT_SCORE_REWRITE default (MultiTermQuery.java:53-83)
            # scores its boost; a docs-predicate leaf has no boost and
            # scores ConstantScoreWeight's default 1.0
            return self._cand(
                self.doc_set(q).withColumn(
                    "score", F.lit(float(getattr(q, "boost", 1.0)))
                ),
                candidates,
            )
        if isinstance(q, _MULTI_TERM):
            return self._cand(self._multiterm_scored(q, q.rewrite), candidates)
        raise TypeError(f"unsupported query node: {q!r}")

    MAX_CLAUSE_COUNT = 1024  # IndexSearcher.maxClauseCount default

    def _multiterm_scored(self, q, rw: str) -> DataFrame:
        """Scoring rewrites for multi-term queries
        (MultiTermQuery.java:96-212, ScoringRewrite.java,
        TopTermsRewrite.java): expand against the terms dictionary, then
        score the expansions as a SHOULD disjunction in ONE postings
        scan (per-term weights resolved inside the decode UDF)."""
        if rw == "scoring_boolean":
            # every term with its OWN stats (ScoringRewrite.java:60-100).
            # The maxClauseCount bound is pushed INTO the stats query as
            # limit(MAX+1): a hostile prefix over a 10^10-term dictionary
            # ships at most 1025 rows to the driver before raising, never
            # the whole matching slice.
            exp = self._predicate_term_stats(
                self._multiterm_pred(q), q.field,
                limit=self.MAX_CLAUSE_COUNT + 1,
            )
            if len(exp) > self.MAX_CLAUSE_COUNT:
                raise ValueError(
                    f"maxClauseCount exceeded: >{self.MAX_CLAUSE_COUNT}"
                    " expansions"
                )
            weights = {
                t: self._weight(df, q.boost, q.field, ttf=ttf)
                for t, df, ttf in exp
            }
        elif rw == "top_terms_blended":
            # equal boosts -> ScoreTerm queue keeps the lexicographically
            # smallest (TopTermsRewrite.java:210-212); blended df/ttf =
            # max over kept (BlendedTermQuery.java:281-290). The queue is
            # a JVM-side TakeOrdered (order_limit): only max_expansions
            # rows ever reach the driver.
            exp = self._predicate_term_stats(
                self._multiterm_pred(q), q.field,
                order_limit=int(getattr(q, "max_expansions", 50)),
            )
            if exp:
                df_b = max(df for _, df, _ in exp)
                ttf_b = max(ttf for _, _, ttf in exp)
                weights = {
                    t: self._weight(df_b, q.boost, q.field, ttf=ttf_b)
                    for t, _df, _ttf in exp
                }
            else:
                weights = {}
        else:
            raise ValueError(f"unknown rewrite method: {rw}")
        if not weights:
            return self._empty_scored()
        per = self._scored_term_rows(weights, None, q.field)
        return per.groupBy("doc_id").agg(
            self._sum_as_float(F.col("score")).alias("score")
        )

    def _multiterm_pred(self, q):
        """Terms-dictionary predicate for a multi-term query node (the
        TermsEnum intersection, pushed to the stats/postings scans)."""
        if isinstance(q, P.PrefixQ):
            return F.col("term").startswith(q.prefix)
        if isinstance(q, P.WildcardQ):
            like = q.pattern.replace("%", r"\%").replace("_", r"\_")
            like = like.replace("*", "%").replace("?", "_")
            return F.col("term").like(like)
        if isinstance(q, P.RegexpQ):
            if q.syntax == "java":
                # opt-out escape hatch: raw Java regex, substring match
                return F.col("term").rlike(q.pattern)
            # Lucene RegExp dialect (util/automaton/RegExp.java) compiled
            # to an anchored Java pattern — whole-term semantics like
            # RegexpQuery; unsupported operators raise loudly
            from lucene_spark.search.regexp import term_predicate_pattern

            return F.col("term").rlike(term_predicate_pattern(q.pattern))
        if isinstance(q, P.TermRangeQ):
            lo = F.col("term") >= q.lower if q.include_lower else F.col("term") > q.lower
            hi = F.col("term") <= q.upper if q.include_upper else F.col("term") < q.upper
            return lo & hi
        if isinstance(q, P.TermInSetQ):
            return F.col("term").isin(list(q.terms))
        raise TypeError(f"not a multi-term node: {q!r}")

    def _predicate_term_stats(
        self,
        pred,
        field: str | None,
        limit: int | None = None,
        order_limit: int | None = None,
    ) -> list[tuple]:
        """[(term, df, ttf)] for dictionary terms matching ``pred`` —
        cross-segment stats summed like Index.stats_for_terms.

        ``limit`` caps the rows shipped to the driver (CollectLimit —
        the maxClauseCount pre-check); ``order_limit`` returns the
        lexicographically-first N terms via a JVM-side TakeOrdered (the
        TopTermsRewrite priority queue). Both bound driver memory to
        O(limit) regardless of dictionary size."""
        rows = self._predicate_term_stats_df(
            pred, field, limit=limit, order_limit=order_limit
        ).collect()
        out = [(r["term"], int(r["df"]), int(r["ttf"])) for r in rows]
        if order_limit is not None:
            out.sort()
        return out

    def _predicate_term_stats_df(
        self,
        pred,
        field: str | None,
        limit: int | None = None,
        order_limit: int | None = None,
    ) -> DataFrame:
        """The uncollected plan behind _predicate_term_stats (exposed so
        tests can assert the CollectLimit / TakeOrdered bound is in the
        physical plan, not applied driver-side)."""
        stats = self.index.term_stats
        if self.index.has_field_column:
            stats = stats.filter(
                F.col("field") == self.index.resolve_field(field)
            )
        agg = (
            stats.filter(pred)
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
        )
        if order_limit is not None:
            agg = agg.orderBy("term").limit(int(order_limit))
        elif limit is not None:
            agg = agg.limit(int(limit))
        return agg

    def _docs_scored(self, present, expr, candidates) -> DataFrame:
        """A docs-table score ``expr`` over the live docs where ``present``
        holds, rounded to float once in 'lucene' mode."""
        if self.scoring == "lucene":
            expr = expr.cast("float").cast("double")
        docs = self.index.docs.filter(present).select("doc_id", expr.alias("score"))
        return self._cand(self._live(docs), candidates)

    def _empty_scored(self) -> DataFrame:
        return empty_frame(self.index.spark, _SCORE_SCHEMA)

    @staticmethod
    def _cand(df: DataFrame, candidates) -> DataFrame:
        """DocID allow-list filter (rescore second pass): the literal list
        pushes down as an IN predicate."""
        if candidates is None:
            return df
        return df.filter(F.col("doc_id").isin([int(d) for d in candidates]))

    def _boosted(self, df: DataFrame, boost: float) -> DataFrame:
        """BoostQuery over a scored frame: float32 score times float32
        boost in 'lucene' mode (the BoostQuery weight), double otherwise."""
        if boost == 1.0:
            return df
        if self.scoring == "lucene":
            boosted = F.col("score").cast("float") * F.lit(np.float32(boost)).cast("float")
            return df.withColumn("score", boosted.cast("double"))
        return df.withColumn("score", F.col("score") * F.lit(float(boost)))

    def _sum_as_float(self, col):
        """Disjunction sum: float32 clause scores accumulated in double,
        result cast to float (DisjunctionSumScorer.java:38-44)."""
        s = F.sum(col)
        if self.scoring == "lucene":
            return s.cast("float").cast("double")
        return s

    def _synonym_scored(self, q: P.SynonymQ, k: int | None = None,
                        candidates: list[int] | None = None) -> DataFrame:
        """SynonymQuery.java:198-214: one pseudo-term, df = max(term dfs),
        ttf = sum(term ttfs), per-doc freq = sum of term freqs, scored
        once. Leaf-at-a-time (_leaf_scored, evaluator _synonym_leaf): one
        scan of the terms'
        doc blocks, one grouped call per salt that sums each doc's freqs,
        scores them and keeps the salt's top ``k``."""
        terms = list(dict.fromkeys(q.terms))
        fld = q.field
        stats = self.index.stats_for_terms(terms, fld)
        if not stats:
            return self._empty_scored()
        w = self._weight(max(s[0] for s in stats.values()), q.boost, fld,
                         ttf=sum(s[1] for s in stats.values()))
        rows = self.index.postings_for_terms(
            [t for t in terms if t in stats], fld).select("salt", "blocks")
        return self._leaf_scored(rows, _synonym_leaf(w, self._scorer(fld)), k,
                                 candidates)

    def _blended_scored(self, q: P.BlendedTermQ) -> DataFrame:
        """BlendedTermQuery.java:334 — every Term(field, text) pair is
        scored with the BLENDED df (max over all pairs; the reference
        rewrites each TermStates' docFreq up to the max so no field's
        rarity dominates), while each pair keeps its OWN field norms and
        avgdl; pairs combine via disjunction-max with the builder's
        tiebreak (DisjunctionMaxRewrite default)."""
        terms = list(dict.fromkeys(q.terms))
        flds = list(q.fields) if q.fields else [q.field]
        per_field_stats = {f: self.index.stats_for_terms(terms, f) for f in flds}
        dfs = [
            s[0]
            for st in per_field_stats.values()
            for s in st.values()
        ]
        if not dfs:
            return self._empty_scored()
        df_max = max(dfs)
        per_term = None
        for f in flds:
            st = per_field_stats[f]
            present = [t for t in terms if t in st]
            if not present:
                continue
            w = self._weight(df_max, q.boost, f)
            sc = self._score_freq_df(
                self._freq_rows(present, f).select("doc_id", "freq", "norm"), w, f
            )
            per_term = sc if per_term is None else per_term.unionByName(sc)
        agg = per_term.groupBy("doc_id").agg(
            F.max("score").alias("mx"), F.sum("score").alias("sm")
        )
        if self.scoring == "lucene":
            expr = (
                F.col("mx").cast("float")
                + F.lit(np.float32(q.tiebreak)).cast("float")
                * (F.col("sm").cast("float") - F.col("mx").cast("float"))
            ).cast("double")
        else:
            expr = F.col("mx") + F.lit(float(q.tiebreak)) * (F.col("sm") - F.col("mx"))
        return agg.select("doc_id", expr.alias("score"))

    def _combined_field_scored(self, q: P.CombinedFieldQ) -> DataFrame:
        """CombinedFieldQuery / BM25F (see plans.CombinedFieldQ for the
        reference's stats-merging rules). Spark shape: per-field freq
        rows union + ONE groupBy summing the weighted tf; the combined
        norm comes from the docs table's per-field norm columns (every
        weighted field contributes its length whether or not it matched
        the term, like MultiFieldNormValues), joined only onto the
        already-aggregated match set."""
        fields = [(f, float(w)) for f, w in q.fields]
        if any(w < 1.0 for _f, w in fields):
            raise ValueError("field weight must be >= 1 "
                             "(CombinedFieldQuery.Builder.addField)")
        terms = list(dict.fromkeys(q.terms))
        per_field_stats = {
            f: self.index.stats_for_terms(terms, f) for f, _w in fields
        }
        df_max = max(
            [0] + [v[0] for st in per_field_stats.values()
                   for v in st.values()]
        )
        if df_max == 0:
            return self._empty_scored()
        doc_count = max(self.index.doc_count_for(f) for f, _w in fields)
        sum_ttf = sum(w * self.index.sum_ttf_for(f) for f, w in fields)
        if self.scoring == "lucene":
            weight = float(np.float32(q.boost) * bm25.idf(df_max, doc_count))
            avgdl = float(
                bm25.avg_field_length(int(sum_ttf), doc_count)
            )
            cache = bm25.norm_cache(np.float32(avgdl))
        else:
            weight = q.boost * bm25.idf_double(df_max, doc_count)
            avgdl = sum_ttf / float(doc_count)
            cache = None
        # weighted per-(field, term) freq rows -> one groupBy sum
        u = None
        for f, w in fields:
            present = [t for t in terms if t in per_field_stats[f]]
            if not present:
                continue
            rows = self._freq_rows(present, f).select(
                "doc_id",
                (F.col("freq").cast("double") * F.lit(w)).alias("wfreq"),
            )
            u = rows if u is None else u.unionByName(rows)
        agg = u.groupBy("doc_id").agg(F.sum("wfreq").alias("freq"))
        # combined pseudo-norm from the docs table's per-field norms
        norm_cols = [
            (self.index.norm_col_for(f), w) for f, w in fields
        ]
        docs = self.index.docs.select(
            "doc_id", *[c for c, _w in norm_cols]
        )
        joined = agg.join(docs, "doc_id")
        col_names = [c for c, _w in norm_cols]
        col_weights = [w for _c, w in norm_cols]
        scoring = self.scoring

        @F.pandas_udf(T.DoubleType())
        def cf_score(freq: pd.Series, *norms: pd.Series) -> pd.Series:
            from lucene_spark.smallfloat import int_to_byte4

            total = np.zeros(len(freq), dtype=np.float32)
            for w, ns in zip(col_weights, norms):
                total += np.float32(w) * LENGTH_TABLE[
                    ns.to_numpy().astype(np.int64) & 0xFF
                ].astype(np.float32)
            # Math.round(float) = floor(x + 0.5)
            nb = int_to_byte4(
                np.floor(total.astype(np.float64) + 0.5).astype(np.int64)
            )
            f = freq.to_numpy()
            if scoring == "lucene":
                s = bm25.score(
                    f.astype(np.float32), nb, np.float32(weight), cache
                ).astype(np.float64)
            else:
                qdl = LENGTH_TABLE[nb.astype(np.int64) & 0xFF]
                s = bm25.score_double(f, qdl, weight, avgdl)
            return pd.Series(s)

        return joined.select(
            "doc_id", cf_score("freq", *col_names).alias("score")
        )

    def _fuzzy_expansions(self, q: P.FuzzyQ) -> list[tuple]:
        """FuzzyTermsEnum + TopTermsRewrite: (term, df, boost) for the top
        max_expansions dictionary terms within edit distance, highest
        boost first (ties: lexicographically smaller term wins, the
        ScoreTerm priority-queue order, TopTermsRewrite.java:210-212)."""
        rows = (
            self._fuzzy_candidates(q)
            .orderBy(F.desc("boost"), F.asc("term"))
            .limit(int(q.max_expansions))
            .collect()
        )
        return [(r["term"], int(r["df"]), float(r["boost"])) for r in rows]

    def _fuzzy_candidates(self, q: P.FuzzyQ) -> DataFrame:
        """Every dictionary term within q's edit distance, as a lazy
        (term, df, boost) plan: boost = 1 - ed / min(|candidate|,
        |query|); exact match = 1 (FuzzyTermsEnum.java:249-255)."""
        target = q.term
        k = int(q.max_edits)
        stats = self.index.term_stats
        if self.index.has_field_column:
            stats = stats.filter(
                F.col("field") == self.index.resolve_field(q.field)
            )
        # JVM pre-filters pushed to the scan: length band (|len diff| <= k
        # for either distance variant), prefix constraint, and a loose
        # plain-Levenshtein bound (a transposition costs <= 2 plain
        # edits, so damerau <= k implies levenshtein <= 2k)
        pred = F.abs(F.length(F.col("term")) - F.lit(len(target))) <= k
        if q.prefix_len:
            pred = pred & F.col("term").startswith(target[: q.prefix_len])
        lev_bound = 2 * k if q.transpositions else k
        pred = pred & (F.levenshtein(F.col("term"), F.lit(target)) <= lev_bound)
        cand = stats.filter(pred).groupBy("term").agg(F.sum("df").alias("df"))

        transpositions = q.transpositions

        @F.pandas_udf(T.IntegerType())
        def ed_udf(terms: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    _edit_distance(t, target, transpositions)
                    for t in terms
                ],
                dtype="int32",
            )

        cand = cand.withColumn("ed", ed_udf("term")).filter(F.col("ed") <= k)
        boost = F.when(F.col("ed") == 0, F.lit(1.0)).otherwise(
            1.0 - F.col("ed") / F.least(F.length("term"), F.lit(len(target))).cast("double")
        )
        return cand.select("term", "df", boost.alias("boost"))

    def _fuzzy_like_this_vars(self, q: "P.FuzzyLikeThisQ") -> dict[str, float]:
        """FuzzyLikeThisQuery.rewrite (sandbox/queries/FuzzyLikeThisQuery
        .java:105-189): the kept variant terms and their final weights.

        Per distinct analyzed token: enumerate ALL dictionary variants
        within max_edits (avg-df fallback counts every variant, java:150
        totalVariantDocFreqs, not just the kept 50), keep the per-token
        top MAX_VARIANTS_PER_TERM by (boost desc, term asc), weight each
        kept variant boost^2 * ClassicSimilarity.idf(df_src, numDocs)
        with idf = ln((numDocs+1)/(df+1)) + 1 (ClassicSimilarity.java:72),
        then ONE global queue keeps the top max_num_terms variants by
        (weight desc, term asc). A term kept under two source tokens
        contributes both weights (two SHOULD clauses on the same term —
        scores sum, and the clause score is linear in the weight, so the
        weights merge additively).

        One bounded collect for all tokens: per token the JVM keeps the
        top MAX_VARIANTS_PER_TERM variants plus one summary row (variant
        count, Σdf, the exact token's df) for the avg-df fallback."""
        from lucene_spark.analysis import analyze_query_text

        tokens = list(dict.fromkeys(
            analyze_query_text(q.query_text, analyzer=self.index.analyzer)
        ))
        if not tokens:
            return {}
        cap = P.FuzzyLikeThisQ.MAX_VARIANTS_PER_TERM
        u = None
        for i, tok in enumerate(tokens):
            cand = self._fuzzy_candidates(P.FuzzyQ(
                tok, max_edits=q.max_edits, prefix_len=q.prefix_len,
                transpositions=True, field=q.field,
            ))
            top = (
                cand.orderBy(F.desc("boost"), F.asc("term"))
                .limit(cap)
                .select(F.lit(i).alias("tok"), "term", "df", "boost")
            )
            summary = cand.agg(
                F.lit(i).alias("tok"),
                F.count(F.lit(1)).alias("n_var"),
                F.sum("df").alias("df_sum"),
                F.sum(F.when(F.col("term") == tok, F.col("df"))).alias("df_tok"),
            )
            part = top.unionByName(summary, allowMissingColumns=True)
            u = part if u is None else u.unionByName(part)
        per_tok: dict[int, list] = {}
        fallback: dict[int, tuple] = {}
        for r in u.collect():
            if r["n_var"] is None:
                per_tok.setdefault(r["tok"], []).append(
                    (float(r["boost"]), r["term"])
                )
            else:
                fallback[r["tok"]] = (
                    int(r["n_var"]), int(r["df_sum"] or 0), int(r["df_tok"] or 0)
                )
        n_docs = self.index.N
        kept: list[tuple[float, str]] = []
        for i in range(len(tokens)):
            n_var, df_sum, df_src = fallback[i]
            if n_var == 0:
                continue
            if df_src == 0:
                # integer average over ALL variants (java:158-161)
                df_src = df_sum // n_var
            idf = math.log((n_docs + 1) / float(df_src + 1)) + 1.0
            for b, t in sorted(per_tok.get(i, []), key=lambda x: (-x[0], x[1])):
                kept.append((b * b * idf, t))
        # global ScoreTermQueue order: weight desc, ties smaller term
        # first (java:239-244 lessThan)
        kept.sort(key=lambda x: (-x[0], x[1]))
        weights: dict[str, float] = {}
        for w, t in kept[: int(q.max_num_terms)]:
            weights[t] = weights.get(t, 0.0) + w * float(q.boost)
        return weights

    def _fuzzy_like_this_scored(self, q: "P.FuzzyLikeThisQ") -> DataFrame:
        """Score the rewritten SHOULD union. Each clause is a TermQuery
        whose TermStates are overridden to df=1/ttf=1 (java:176-189) —
        the in-clause idf is the same constant for every variant — boosted
        by the precomputed variant weight; ignore_tf swaps the clause for
        ConstantScore(weight). ONE postings scan covers all variants."""
        var_weights = self._fuzzy_like_this_vars(q)
        if not var_weights:
            return self._empty_scored()
        if q.ignore_tf:
            # ConstantScore clauses: each matched variant adds exactly
            # its weight, freq/norm ignored (java:178)
            wmap = F.create_map(*[
                x for t, w in sorted(var_weights.items())
                for x in (F.lit(t), F.lit(float(w)))
            ])
            return (
                self._freq_rows(list(var_weights), q.field)
                .groupBy("doc_id")
                .agg(self._sum_as_float(wmap[F.col("term")]).alias("score"))
            )
        weights = {
            t: self._weight(1, w, q.field, ttf=1)
            for t, w in var_weights.items()
        }
        per_term = self._scored_term_rows(weights, None, q.field)
        return per_term.groupBy("doc_id").agg(
            self._sum_as_float(F.col("score")).alias("score")
        )

    def _fuzzy_scored(self, q: P.FuzzyQ) -> DataFrame:
        """TopTermsBlendedFreqScoringRewrite (MultiTermQuery.java:173-212):
        blended df = max over the kept expansions
        (BlendedTermQuery.java:281-290), each expansion scored as a
        TermQuery with the blended df wrapped in BoostQuery(term boost),
        combined as a SHOULD disjunction sum. One postings scan for all
        expansions (per-term weights resolved inside the decode UDF)."""
        exp = self._fuzzy_expansions(q)
        if not exp:
            return self._empty_scored()
        df_blend = max(df for _, df, _ in exp)
        weights = {
            t: self._weight(df_blend, b * q.boost, q.field) for t, _df, b in exp
        }
        per_term = self._scored_term_rows(weights, None, q.field)
        return per_term.groupBy("doc_id").agg(
            self._sum_as_float(F.col("score")).alias("score")
        )

    def _score_freq_df(self, df: DataFrame, weight: float,
                       field: str | None = None) -> DataFrame:
        """(doc_id, freq, norm) -> (doc_id, score) via vectorized UDF."""
        score = self._scorer(field)

        @F.pandas_udf(T.DoubleType())
        def score_udf(freq: pd.Series, norm: pd.Series) -> pd.Series:
            return pd.Series(score(freq.to_numpy(), norm.to_numpy(), weight))

        return df.select("doc_id", score_udf("freq", "norm").alias("score"))

    def _phrase_scored(self, q, k: int | None = None,
                       candidates: list[int] | None = None) -> DataFrame:
        """Phrase family (PhraseQuery.java:71, MultiPhraseQuery.java:53),
        on the leaf plan every position family shares (_positions_scored,
        freqs _phrase_freqs): one scan of the phrase terms' rows, one
        grouped call per salt that intersects the slots' docIDs from the
        doc blocks, decodes positions only for the survivors
        (TwoPhaseIterator / ExactPhraseMatcher pattern), scores them and
        keeps the salt's top ``k``.

        slots: one tuple of alternative terms per phrase position; a doc
        matches when some term of every slot occurs at consecutive
        (slop=0) or near (slop>0) positions.

        slop=0: freq = #exact alignments (ExactPhraseMatcher.java:166).
        slop>0 (plain AND MultiPhrase): the REFERENCE SloppyPhraseMatcher
        algorithm — PhraseQueue propagation of the least PhrasePosition
        with repeat-group collision resolution (sloppy.py;
        SloppyPhraseMatcher.java:163-205, 365-470), including repeated
        terms ("get get value") and the multi-term repeat machinery
        (alternative slots as union position streams, bipartite
        term-group detection, collide-driven group init)."""
        if isinstance(q, P.MultiPhraseQ):
            slots = [tuple(alt) for alt in q.positions]
            weight_terms = [t for alt in slots for t in alt]
            offsets = list(range(len(slots)))
        else:
            slots = [(t,) for t in q.terms]
            weight_terms = list(q.terms)
            # explicit positions (PhraseQuery.Builder.add(term, pos) /
            # the NGramPhraseQuery rewrite); exact matching only
            explicit = getattr(q, "positions", None)
            assert explicit is None or q.slop == 0, \
                "explicit phrase positions require slop=0"
            offsets = list(explicit) if explicit else list(range(len(slots)))
        fld = getattr(q, "field", None)
        uniq = list(dict.fromkeys(t for alt in slots for t in alt))
        stats = self.index.stats_for_terms(uniq, fld)
        if isinstance(q, P.MultiPhraseQ):
            # MultiPhrase: a slot matches if ANY alternative exists; drop
            # missing alternatives, fail only if a whole slot is gone
            slots = [tuple(t for t in alt if t in stats) for alt in slots]
            if any(not alt for alt in slots):
                return self._empty_scored()
            weight_terms = [t for t in weight_terms if t in stats]
            uniq = list(dict.fromkeys(t for alt in slots for t in alt))
        elif any(t not in stats for t in uniq):
            return self._empty_scored()
        w = self._combined_weight([stats[t][0] for t in weight_terms], q.boost, fld)
        idx_of = {t: i for i, t in enumerate(uniq)}
        slot_spec = [[idx_of[t] for t in alt] for alt in slots]
        return self._positions_scored(
            uniq, slot_spec, _phrase_freqs(slot_spec, offsets, q.slop),
            _freq_finish(self._scorer(fld), w), k, candidates, fld)

    def _phrase_wildcard_multiphrase(self, q) -> P.MultiPhraseQ | None:
        """PhraseWildcardQuery -> MultiPhraseQ by dictionary expansion
        (sandbox/search/PhraseWildcardQuery.java:63). The TOTAL
        expansion budget (maxMultiTermExpansions) is split evenly
        across the remaining multi-terms in clause order —
        ``remainingExpansions / remainingMultiTerms`` (lines 188-197) —
        each multi-term expanding in term-dictionary order up to its
        share. Returns None when a slot expands to nothing (the
        reference's no-match segment behavior)."""
        remaining_exp = int(q.max_multi_term_expansions)
        remaining_multi = sum(1 for c in q.clauses if not isinstance(c, str))
        slots = []
        for c in q.clauses:
            if isinstance(c, str):
                slots.append((c,))
                continue
            cap = max(0, remaining_exp // max(1, remaining_multi))
            if isinstance(c, P.FuzzyQ):
                terms = sorted(
                    t for t, _df, _b in self._fuzzy_expansions(c)
                )[:cap]
            else:
                # per-slot expansion budget pushed down as TakeOrdered —
                # only `cap` rows reach the driver
                terms = self._predicate_term_stats(
                    self._multiterm_pred(c), q.field, order_limit=cap
                )
                terms = [t for t, _df, _ttf in terms]
            remaining_exp -= len(terms)
            remaining_multi -= 1
            if not terms:
                return None
            slots.append(tuple(terms))
        return P.MultiPhraseQ(tuple(slots), q.slop, q.boost, q.field)

    def _term_automaton_scored(self, q: P.TermAutomatonQ, k: int | None = None,
                               candidates: list[int] | None = None) -> DataFrame:
        """TermAutomatonQuery (sandbox/search/TermAutomatonQuery.java:70,
        TermAutomatonScorer.java:231), leaf-at-a-time like phrases
        (_positions_scored): determinize the term automaton, scan its
        alphabet's rows once, intersect the docIDs of the DFA's *required*
        terms (every 0->accept path crosses them — the TwoPhaseIterator
        approximation), then the reference-exact countMatches per
        survivor. Weight = combined idf over alphabet terms present in
        the index (TermAutomatonWeight, lines 364-399); score =
        similarity(freq, norm)."""
        from lucene_spark.search import termautomaton as TA

        dfa = TA.determinize(q.n_states, q.transitions, q.accepts)
        if not dfa.terms:
            return self._empty_scored()
        fld = q.field
        stats = self.index.stats_for_terms(list(dfa.terms), fld)
        # an absent alphabet term can never fire its arcs; a *required*
        # absent term kills the query outright
        required = TA.required_terms(dfa)
        if any(t not in stats for t in required):
            return self._empty_scored()
        present = [t for t in dfa.terms if t in stats]
        if not present:
            return self._empty_scored()
        w = self._combined_weight([stats[t][0] for t in present], q.boost, fld)
        sym = [dfa.terms.index(t) for t in present]  # key idx -> DFA symbol

        def freq(pos):
            events = sorted((int(p), sym[i]) for i, ps in pos.items() for p in ps)
            return float(TA.count_matches(events, dfa))

        return self._positions_scored(
            present, [[present.index(t)] for t in required], _per_doc(freq),
            _freq_finish(self._scorer(fld), w), k, candidates, fld)

    def _bool_scored(self, q: P.BoolQ, k: int | None = None,
                     candidates: list[int] | None = None) -> DataFrame:
        """BooleanQuery semantics (BooleanQuery.java:77-176,
        Boolean2ScorerSupplier.java:100-248): score = Σ scoring clauses;
        MUST = scoring intersection, SHOULD = scoring union (optional when
        MUST present), FILTER = non-scoring semi join, MUST_NOT = anti join.

        Term-leaf queries (every MUST/SHOULD clause a TermQ of one field,
        no term in two clauses) run leaf-at-a-time: one postings scan over
        all their terms and one grouped call per salt that assembles,
        scores and keeps the salt's top ``k`` (see _term_bool_plan).
        Everything else takes the join tree below, one scored sub-plan
        per clause, and ignores ``k``."""
        st = self._term_bool_state(q)
        if st == "empty":
            return self._empty_scored()
        if st is not None:
            return self._term_bool_plan(st, k, candidates)
        # MUST: intersection of scored clauses
        must_df = None
        for c in q.must:
            s = self.scored(c, candidates=candidates).withColumnRenamed("score", "s")
            if must_df is None:
                must_df = s.withColumnRenamed("s", "score")
            else:
                must_df = (
                    must_df.join(s, "doc_id", "inner")
                    .withColumn("score", F.col("score") + F.col("s"))
                    .drop("s")
                )
        # SHOULD: union + groupBy sum (+count for minShouldMatch)
        should_df = None
        if q.should:
            u = None
            for c in q.should:
                s = self.scored(c, candidates=candidates)
                u = s if u is None else u.unionByName(s)
            should_df = u.groupBy("doc_id").agg(
                self._sum_as_float(F.col("score")).alias("score"),
                F.count(F.lit(1)).alias("n_should"),
            )
            msm = q.min_should_match
            if must_df is None and msm < 1:
                msm = 1  # pure disjunction: at least one clause matches by construction
            if msm > 0:
                should_df = should_df.filter(F.col("n_should") >= msm)
            should_df = should_df.drop("n_should")

        if must_df is not None and should_df is not None:
            if q.min_should_match > 0:
                # SHOULD becomes required at msm (BooleanQuery.java:96)
                base = must_df.join(
                    should_df.withColumnRenamed("score", "s2"), "doc_id", "inner"
                )
            else:
                base = must_df.join(
                    should_df.withColumnRenamed("score", "s2"), "doc_id", "left"
                ).fillna({"s2": 0.0})
            combined = base.withColumn("score", F.col("score") + F.col("s2")).drop("s2")
            if self.scoring == "lucene":
                combined = combined.withColumn(
                    "score", F.col("score").cast("float").cast("double")
                )
        elif must_df is not None:
            combined = must_df
            if len(q.must) > 1 and self.scoring == "lucene":
                combined = combined.withColumn(
                    "score", F.col("score").cast("float").cast("double")
                )
        elif should_df is not None:
            combined = should_df
        else:
            # filter-only query: constant score 0 over the filter set
            combined = None

        # FILTER clauses: non-scoring required (BooleanWeight.java:31)
        filter_sets = [self.doc_set(c) for c in q.filter]
        if combined is None:
            if not filter_sets:
                return self._empty_scored()
            base = filter_sets[0]
            for fs in filter_sets[1:]:
                base = base.join(fs, "doc_id", "left_semi")
            combined = base.withColumn("score", F.lit(0.0))
        else:
            for fs in filter_sets:
                combined = combined.join(fs, "doc_id", "left_semi")
        # MUST_NOT: anti join (ReqExclScorer semantics)
        for c in q.must_not:
            combined = combined.join(self.doc_set(c), "doc_id", "left_anti")
        return self._boosted(combined, q.boost).select("doc_id", "score")

    def _dismax_scored(self, q: P.DisMaxQ, candidates: list[int] | None = None) -> DataFrame:
        """DisjunctionMaxQuery.java:45: max + tiebreak * (sum - max)."""
        u = None
        for c in q.clauses:
            s = self.scored(c, candidates=candidates)
            u = s if u is None else u.unionByName(s)
        if u is None:
            return self._empty_scored()
        agg = u.groupBy("doc_id").agg(
            F.max("score").alias("mx"), F.sum("score").alias("sm")
        )
        if self.scoring == "lucene":
            expr = (
                F.col("mx").cast("float")
                + F.lit(np.float32(q.tiebreak)).cast("float")
                * (F.col("sm").cast("float") - F.col("mx").cast("float"))
            ).cast("double")
        else:
            expr = F.col("mx") + F.lit(float(q.tiebreak)) * (F.col("sm") - F.col("mx"))
        return agg.select("doc_id", expr.alias("score"))

    def _covering_scored(
        self, q: P.CoveringQ, candidates: list[int] | None = None
    ) -> DataFrame:
        """CoveringQuery (sandbox/search/CoveringQuery.java:54-108,
        CoveringScorer.java:138,168,211-216): matches when the number of
        matching sub-queries >= max(1, per-doc minimumNumberMatch value);
        score = Σ matching clause scores; docs with no value never match.

        Spark shape: scored-union + ONE groupBy (the clause count rides
        the same aggregation as the score sum) + the doc-values join —
        no per-clause shuffles, msm filter before the join would be
        wrong (the threshold is per-doc), but the join is on the
        already-aggregated (small) match set, not the corpus."""
        u = None
        for c in q.queries:
            s = self.scored(c, candidates=candidates)
            u = s if u is None else u.unionByName(s)
        if u is None:
            return self._empty_scored()
        agg = u.groupBy("doc_id").agg(
            self._sum_as_float(F.col("score")).alias("score"),
            F.count(F.lit(1)).alias("_n_match"),
        )
        vals = self.index.docs.select(
            "doc_id", F.expr(q.min_match_col).cast("long").alias("_mm")
        )
        return (
            agg.join(vals, "doc_id")
            .filter(
                F.col("_mm").isNotNull()
                & (F.col("_n_match") >= F.greatest(F.lit(1), F.col("_mm")))
            )
            .select("doc_id", "score")
        )

    def _span_keys(self, source):
        """The setup of the interval-sourced families: the source's leaf
        keys present in the index, its required slots (intervals
        .required_terms: optional or-alternatives and negative
        subtrahends left out) as indexes into them, and the dfs of the
        present leaves, repeats included (the weight's). None when a
        required slot has no present key; an absent optional key just
        has no positions."""
        from lucene_spark.search import intervals as IV

        leaves = IV.leaf_keys(source)
        stats = self._stats_for_keys(list(dict.fromkeys(leaves)))
        keys = [t for t in dict.fromkeys(leaves) if t in stats]
        slots = [[keys.index(t) for t in dict.fromkeys(slot) if t in stats]
                 for slot in IV.required_terms(source)]
        if not all(slots):
            return None
        return keys, slots, [stats[t][0] for t in leaves if t in stats]

    def _interval_scored(self, q: P.IntervalQ, k: int | None = None,
                         candidates: list[int] | None = None) -> DataFrame:
        """IntervalQuery (intervals/IntervalQuery.java:59), leaf-at-a-time
        like phrases (_positions_scored): the docID conjunction of the
        source's required slots, positions decoded only for survivors,
        then the minimal-interval algebra per doc (intervals.py). freq =
        sum 1/(1+gaps), weight = summed leaf idf. Leaves read the default
        field unless a FieldMaskingSpanQ scopes them ((field, term) keys,
        one scan per field)."""
        from lucene_spark.search import intervals as IV

        setup = self._span_keys(q.source)
        if setup is None:
            return self._empty_scored()
        keys, slots, dfs = setup
        source = q.source

        def freq(pos):
            return IV.freq_of(source, {keys[i]: p for i, p in pos.items()})

        return self._positions_scored(
            keys, slots, _per_doc(freq),
            _freq_finish(self._scorer(), self._combined_weight(dfs, q.boost)),
            k, candidates)

    def _payload_scored(self, q: P.PayloadScoreQ, k: int | None = None,
                        candidates: list[int] | None = None) -> DataFrame:
        """PayloadScoreQuery (queries/payloads/PayloadScoreQuery.java,
        PayloadFunction min/max/avg/sum): evaluate the span's minimal
        intervals per doc, collect the payloads of every leaf-term
        position inside a matched interval, aggregate with the
        PayloadFunction; score = func(payloads) * boost
        (includeSpanScore=False semantics). The interval leaf plan
        (_interval_scored) with payloads decoded beside the positions."""
        from lucene_spark.search import intervals as IV

        func = {"min": np.min, "max": np.max, "avg": np.mean, "sum": np.sum}[q.func]
        source = P.span_source(q.span)
        setup = self._span_keys(source)
        if setup is None:
            return self._empty_scored()
        keys, slots, _dfs = setup
        boost = float(q.boost)

        def value(pos, pay):
            ivs = IV.evaluate(source, {keys[i]: p for i, p in pos.items()})
            if not ivs:
                return np.nan
            return func(np.concatenate([pay[i][(ps >= s0) & (ps <= s1)]
                                        for s0, s1 in ivs for i, ps in pos.items()]))

        def finish(v, _norms):
            hit = ~np.isnan(v)
            return hit, v[hit] * boost

        return self._positions_scored(keys, slots, _per_doc(value), finish, k,
                                      candidates, payloads=True)

    def _payload_check_scored(
        self, q: P.SpanPayloadCheckQ, k: int | None = None,
        candidates: list[int] | None = None,
    ) -> DataFrame:
        """SpanPayloadCheckQuery (queries/payloads/
        SpanPayloadCheckQuery.java:44,206-237): a span is accepted iff
        the payloads at its positions, in ascending position order,
        compare true one-for-one (and same count) against
        ``q.payloads`` under ``q.op``; docs score like the span over
        accepted intervals only (sloppyFreq = sum 1/(1+gaps)).
        Comparisons run in float32 (this engine's payload type)."""
        import operator

        from lucene_spark.search import intervals as IV

        cmp = {"eq": operator.eq, "gt": operator.gt, "gte": operator.ge,
               "lt": operator.lt, "lte": operator.le}.get(q.op)
        if cmp is None:
            raise ValueError(f"unknown payload match op {q.op!r}")
        source = P.span_source(q.span)
        setup = self._span_keys(source)
        if setup is None:
            return self._empty_scored()
        keys, slots, dfs = setup
        refs = list(q.payloads)
        gap_k = IV._gap_k(source)

        def freq(pos, pay):
            out = 0.0
            for s0, s1 in IV.evaluate(source, {keys[i]: p for i, p in pos.items()}):
                seq = []
                for i, ps in pos.items():
                    m = (ps >= s0) & (ps <= s1)
                    seq.extend(zip(ps[m], pay[i][m]))
                seq.sort()
                if len(seq) == len(refs) and all(
                    ref is not None and cmp(np.float32(v), np.float32(ref))
                    for (_, v), ref in zip(seq, refs)
                ):
                    out += 1.0 / (1.0 + max(0, (s1 - s0) - (gap_k - 1)))
            return out

        return self._positions_scored(
            keys, slots, _per_doc(freq),
            _freq_finish(self._scorer(), self._combined_weight(dfs, q.boost)),
            k, candidates, payloads=True)

    def _rewrite_common_terms(self, q: P.CommonTermsQ):
        """CommonTermsQuery plan rewrite (CommonTermsQuery.java:136-190):
        df > max_df_ratio * maxDoc => high-freq group, else low-freq MUST.
        Reference semantics reproduced exactly:
        - cutoff is against maxDoc, not docCount (buildQuery uses
          reader.maxDoc(), CommonTermsQuery.java:164);
        - terms absent from the index stay in the low-freq MUST group
          (TermStates for a missing term matches nothing, so the whole
          conjunction is empty — NOT dropped, CommonTermsQuery.java:152);
        - when no low-freq terms remain, the high-freq group becomes a
          conjunction (MUST), CommonTermsQuery.java:172-180."""
        stats = self.index.stats_for_terms(list(dict.fromkeys(q.terms)))
        cutoff = q.max_df_ratio * self.index.N
        low = tuple(
            P.TermQ(t)
            for t in dict.fromkeys(q.terms)
            if t not in stats or stats[t][0] <= cutoff
        )
        high = tuple(
            P.TermQ(t)
            for t in dict.fromkeys(q.terms)
            if t in stats and stats[t][0] > cutoff
        )
        if not low:
            return P.BoolQ(must=high, boost=q.boost)
        return P.BoolQ(must=low, should=high, boost=q.boost)

    # ------------------------------------------------------------------
    # derived queries (MoreLikeThis, rescoring, suggest)
    # ------------------------------------------------------------------

    def more_like_this(self, doc_id: int, max_terms: int = 10,
                       **knobs) -> P.BoolQ:
        """MoreLikeThis (queries/mlt/MoreLikeThis.java:147): extract the
        doc's top-`max_terms` terms by tf*idf and build an OR query over
        them. Term freqs come from the stored term vectors when the
        index has them (MoreLikeThis.retrieveTerms(int) prefers
        getTermVector) — one doc_id-pruned read, no re-tokenize of a
        possibly-huge stored doc; else we re-analyze the stored text
        (the reference's stored-fields fallback). `knobs` are the
        reference setters — see `_mlt_from_tf`."""
        if self.index.manifest.get("with_term_vectors"):
            rows = self.index.term_vector(doc_id).select("term", "freq").collect()
            return self._mlt_from_tf({r["term"]: int(r["freq"]) for r in rows},
                                     max_terms, **knobs)
        row = (
            self.index.corpus.filter(F.col("doc_id") == doc_id)
            .select(self.index.manifest["text_col"])
            .collect()
        )
        if not row:
            return P.BoolQ()
        return self.mlt_from_text(row[0][0] or "", max_terms, **knobs)

    def mlt_from_text(self, text: str, max_terms: int = 10,
                      **knobs) -> P.BoolQ:
        """MoreLikeThis over arbitrary unseen text (MoreLikeThis.java
        like(String) path): top-`max_terms` terms by tf*idf as an OR
        query. `knobs` as in `_mlt_from_tf`."""
        from lucene_spark.analysis import analyze_query_text

        toks = analyze_query_text(text or "", analyzer=self.index.analyzer)
        if not toks:
            return P.BoolQ()
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        return self._mlt_from_tf(tf, max_terms, **knobs)

    def _mlt_from_tf(self, tf: dict[str, int], max_terms: int,
                     min_term_freq: int = 2, min_doc_freq: int = 5,
                     max_doc_freq: int | None = None,
                     min_word_len: int = 0, max_word_len: int = 0,
                     stop_words=None, boost: bool = False,
                     boost_factor: float = 1.0) -> P.BoolQ:
        """Shared MLT term selection, reference-exact knobs and formula:

        - source-token noise filters (MoreLikeThis.isNoiseWord): word
          shorter than `min_word_len` / longer than a non-zero
          `max_word_len` / in `stop_words` -> skipped;
        - createQueue filters (MoreLikeThis.java:622-662): tf <
          min_term_freq, df < min_doc_freq, df > max_doc_freq -> skipped
          (defaults 2/5/unbounded = DEFAULT_MIN_TERM_FREQ /
          DEFAULT_MIN_DOC_FREQ / DEFAULT_MAX_DOC_FREQ);
        - score = tf * idf with the reference's default
          ClassicSimilarity.idf = ln((N+1)/(df+1)) + 1
          (ClassicSimilarity.java:62); float64 + 6dp rounding pins the
          tie order the reference leaves to HashMap iteration;
        - `boost=True` (createQuery, MoreLikeThis.java:591-613): each
          selected TermQ gets weight boost_factor * score / bestScore,
          where bestScore is the score of the FIRST term popped from
          the ascending-score FreqQ — i.e. the LOWEST selected score, a
          reference quirk mirrored here (all boosts >= boost_factor).
        """
        tf = {
            t: f for t, f in tf.items()
            if (min_word_len <= 0 or len(t) >= min_word_len)
            and (max_word_len <= 0 or len(t) <= max_word_len)
            and (not stop_words or t not in stop_words)
            and (min_term_freq <= 0 or f >= min_term_freq)
        }
        if not tf:
            return P.BoolQ()
        stats = self.index.stats_for_terms(sorted(tf))
        n = self.index.doc_count
        scored = sorted(
            (
                # 6dp rounding pins the tie-break across libm variants
                (-round(tf[t] * (float(np.log((n + 1) / (stats[t][0] + 1.0)))
                                 + 1.0), 6), t)
                for t in tf
                if t in stats and stats[t][0] > 0
                and (min_doc_freq <= 0 or stats[t][0] >= min_doc_freq)
                and (max_doc_freq is None or stats[t][0] <= max_doc_freq)
            ),
        )[:max_terms]
        if not boost or not scored:
            return P.BoolQ(should=tuple(P.TermQ(t) for _, t in scored))
        best = max(neg for neg, _ in scored)  # least score = last popped
        return P.BoolQ(should=tuple(
            P.TermQ(t, boost=boost_factor * ((neg / best) if best else 1.0))
            for neg, t in scored
        ))

    def rescore(self, first: object, second: object, n: int,
                weight: float = 1.0) -> DataFrame:
        """QueryRescorer analog (search/QueryRescorer.java:62-80): take
        top-n of `first`, add weight * second-query score for docs that
        match `second` (missing => +0), re-sorted (score desc, docID
        asc). The second pass is candidate-bounded: the top-n docIDs are
        collected (n is small by contract) and pushed into the second
        query's leaf scorers, so it never scores — or shuffles — the
        whole index."""
        top = self.top_k(first, n).select("doc_id", F.col("score").alias("s1"))
        ids = [r["doc_id"] for r in top.select("doc_id").collect()]
        sec = self.scored(second, candidates=ids).select(
            "doc_id", F.col("score").alias("s2")
        )
        out = (
            F.broadcast(top)
            .join(sec, "doc_id", "left")
            .fillna({"s2": 0.0})
            .withColumn("score", F.col("s1") + F.lit(float(weight)) * F.col("s2"))
        )
        return out.select("doc_id", "score").orderBy(F.desc("score"), F.asc("doc_id"))

    def suggest(self, prefix: str, n: int = 10) -> DataFrame:
        """Prefix suggester (suggest/.../AnalyzingInfixSuggester.java:102
        shape): terms-dictionary scan LIKE 'p%' weighted by collection
        frequency. At scale the stats table is bucket-pruned Parquet;
        the LIKE pushes down to the scan."""
        stats = self.index.term_stats
        if self.index.has_field_column:
            stats = stats.filter(F.col("field") == self.index.resolve_field(None))
        return (
            stats.filter(F.col("term").startswith(prefix))
            .select("term", F.col("ttf").alias("weight"))
            .orderBy(F.desc("weight"), F.asc("term"))
            .limit(n)
        )

    def analyze(self, text: str) -> list[str]:
        """Query-side analysis with the INDEX's analyzer chain
        (util/QueryBuilder.java re-runs the analyzer on query text;
        synonym expansion stays index-time only)."""
        from lucene_spark.analysis import analyze_query_text

        return analyze_query_text(text, analyzer=self.index.analyzer)

    # ------------------------------------------------------------------
    # non-scoring doc sets
    # ------------------------------------------------------------------

    def doc_set(self, q) -> DataFrame:
        """Plan node -> distinct DataFrame(doc_id): the query in filter
        context, no scores (Lucene's ScoreMode.COMPLETE_NO_SCORES Weight).

        One compiler: a query's doc set is its scored plan's doc_id
        column, so filter context and scoring context cannot disagree
        (msm, rewrites and every family scored() runs). Catalyst prunes
        the unused score column, so a score computed as a Spark
        expression costs nothing here. Only the leaves scored() itself
        builds on keep their own plan (_doc_set_uncached).

        With a query_cache installed, repeated filters serve a persisted
        doc set once the usage-tracking policy threshold clears
        (LRUQueryCache; IndexSearcher applies the cache exactly to this
        non-scoring Weight context)."""
        q = P.rewrite(q)
        if self.query_cache is not None:
            return self.query_cache.get_or_compute(
                q, lambda: self._doc_set_uncached(q)
            )
        return self._doc_set_uncached(q)

    def _doc_set_uncached(self, q) -> DataFrame:
        if isinstance(q, P.TermInSetQ):
            return self._doc_rows(list(q.terms), q.field).distinct()
        if _constant_score_multiterm(q):
            return self._doc_rows(
                None, q.field, predicate=self._multiterm_pred(q)
            ).distinct()
        if not isinstance(q, _DOC_PREDICATES):
            return self.scored(q).select("doc_id")
        if isinstance(q, P.FieldFilter):
            col = F.col(q.col)
            if q.op == "=":
                pred = col == q.value
            elif q.op == "in":
                pred = col.isin(list(q.value))
            elif q.op == "between":
                pred = col.between(q.value[0], q.value[1])
            elif q.op == "notnull":
                # class:* wildcard filter shape (KNearestNeighbor
                # Classifier.java knnSearch: docs with ANY class value)
                pred = col.isNotNull()
            else:
                raise ValueError(q.op)
        elif isinstance(q, P.GeoBoxQ):
            from lucene_spark.geo import box_predicate

            pred = box_predicate(q.lat_col, q.lon_col, q.min_lat,
                                 q.max_lat, q.min_lon, q.max_lon)
        elif isinstance(q, P.GeoDistanceQ):
            from lucene_spark.geo import distance_predicate

            pred = distance_predicate(q.lat_col, q.lon_col, q.lat, q.lon,
                                      q.radius_m)
        else:
            from lucene_spark.geo_shape import shape_relation_predicate

            pred = shape_relation_predicate(
                q.lats_col, q.lons_col, q.polygon, q.relation, q.holes,
                q.kind,
            )
        return self._live(self.index.docs.filter(pred).select("doc_id"))

    # ------------------------------------------------------------------
    # collectors
    # ------------------------------------------------------------------

    def top_k(self, q, k: int, field_filters: tuple = ()) -> DataFrame:
        """Top-k by (score desc, docID asc) — TopScoreDocCollector +
        HitQueue tie-break (search/HitQueue.java:78-84). Spark physical
        plan: per-partition top-k + driver merge (TakeOrderedAndProject),
        exactly the CollectorManager reduce contract
        (IndexSearcher.java:660-712). The candidates are scored(q, k),
        as in top_k_batch."""
        # the filters drop docs after scoring, so block-max pruning
        # against the unfiltered running top-k could skip true hits
        scored = self.scored(q, k=None if field_filters else k)
        for ff in field_filters:
            scored = scored.join(self.doc_set(ff), "doc_id", "left_semi")
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def top_k_batch(self, queries: dict[str, object], k: int) -> DataFrame:
        """Run MANY top-k queries as ONE Spark action:
        DataFrame(query_id, doc_id, score, rank), rank 1..k per query by
        (score desc, docID asc) — the same HitQueue contract as top_k.

        Why: a query suite executed one .collect() at a time pays the
        fixed job overhead (planning, scheduling, stage launch) per
        query; at local[N] that floor does not parallelize, which is
        what capped the measured N->4N query-suite scaling. Union-ing
        the scored plans under a single action lets Spark run every
        query's stages concurrently across all cores and pay the
        scheduling floor once per BATCH. This is the search-side twin of
        IndexSearcher's CollectorManager reduce: per-query collectors
        run independently, one reduce at the end
        (IndexSearcher.java:660-712).

        Each query's candidates are scored(q, k), as in top_k, so
        building the batch runs no Spark job (term stats come from the
        driver-side terms dictionary). The per-query limit is a
        row_number window partitioned by query_id — one shuffle of at
        most ~(candidates) rows."""
        from pyspark.sql.window import Window

        u = None
        for qid, q in queries.items():
            p = self.scored(q, k=k).select(
                F.lit(qid).alias("query_id"), "doc_id", "score"
            )
            u = p if u is None else u.unionByName(p)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            u.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    def top_field(self, q, sort: list[tuple[str, bool]], k: int,
                  missing: dict | None = None) -> DataFrame:
        """TopFieldCollector with a MULTI-field Sort
        (search/TopFieldCollector.java:58, search/Sort.java,
        search/SortField.java): top-k of the matching docs ordered by
        each (docs-table column, reverse) SortField analog in turn,
        final tie-break docID asc (FieldValueHitQueue comparator
        cascade). ``missing`` maps column -> substituted value for null
        docs (SortField.setMissingValue); unsubstituted nulls sort
        first ascending / last descending.

        Physical plan: the doc-set semi-joins a pruned docs projection,
        then ONE TakeOrderedAndProject — per-partition top-k + driver
        merge, never a global sort."""
        cols = [c for c, _ in sort]
        base = self.doc_set(q).join(
            self.index.docs.select("doc_id", *cols), "doc_id"
        )
        order = []
        for c, reverse in sort:
            col = F.col(c)
            if missing and c in missing:
                col = F.coalesce(col, F.lit(missing[c]))
            order.append(
                col.desc_nulls_last() if reverse else col.asc_nulls_first()
            )
        order.append(F.asc("doc_id"))
        return base.orderBy(*order).limit(k).select("doc_id", *cols)

    def top_field_after(self, q, sort: list[tuple[str, bool]], k: int,
                        after_values: list, after_doc: int) -> DataFrame:
        """Field-sort pagination — TopFieldCollector.create(sort, n,
        after=FieldDoc, ...) (search/TopFieldCollector.java PagingField
        Collector): resume strictly after the (sort values, docID) mark
        in lexicographic sort order. The after predicate is a pure
        column expression, so Catalyst can push it into the docs scan
        (parquet row-group pruning on the sort column)."""
        cols = [c for c, _ in sort]
        base = self.doc_set(q).join(
            self.index.docs.select("doc_id", *cols), "doc_id"
        )
        pred = F.lit(False)
        eq = F.lit(True)
        for (c, reverse), v in zip(sort, after_values):
            col = F.col(c)
            pred = pred | (eq & ((col < F.lit(v)) if reverse else (col > F.lit(v))))
            eq = eq & (col == F.lit(v))
        pred = pred | (eq & (F.col("doc_id") > int(after_doc)))
        order = []
        for c, reverse in sort:
            order.append(F.col(c).desc() if reverse else F.col(c).asc())
        order.append(F.asc("doc_id"))
        return (
            base.filter(pred).orderBy(*order).limit(k)
            .select("doc_id", *cols)
        )

    # ------------------------------------------------------------------
    # term-leaf boolean plan
    # ------------------------------------------------------------------

    def _term_bool_state(self, q: P.BoolQ):
        """Shape check + stats lookup for a term-leaf BoolQ's leaf plan
        (_bool_scored). Returns None (a MUST/SHOULD clause that is not a TermQ of the
        query's one field, or a term in two clauses: the join tree),
        "empty" (provably no hits), or the state dict:

        - ``kinds``: term -> clause kind (_MUST/_SHOULD/_FILTER/_MUST_NOT)
          for every term the leaf decodes: the scoring terms plus
          each FILTER / MUST_NOT TermQ of the same field and a new term;
        - ``weights``: term -> createWeight output, scoring terms only;
        - ``msm``: SHOULD matches a hit needs (0 = SHOULD optional);
        - ``filter`` / ``must_not``: the clauses the leaf does not
          carry, joined after it."""
        scoring = q.must + q.should
        if not scoring or not all(isinstance(c, P.TermQ) for c in scoring):
            return None
        field = scoring[0].field
        kinds: dict[str, int] = {}
        for kind, clauses in ((_MUST, q.must), (_SHOULD, q.should)):
            for c in clauses:
                if c.field != field or c.term in kinds:
                    return None  # mixed fields / a term in two clauses
                kinds[c.term] = kind
        joined: dict[int, list] = {_FILTER: [], _MUST_NOT: []}
        for kind, clauses in ((_FILTER, q.filter), (_MUST_NOT, q.must_not)):
            for c in clauses:
                if (isinstance(c, P.TermQ) and c.field == field
                        and c.term not in kinds):
                    kinds[c.term] = kind
                else:
                    joined[kind].append(c)
        stats = self.index.stats_for_terms(list(kinds), field)
        if any(kd in (_MUST, _FILTER) and t not in stats
               for t, kd in kinds.items()):
            return "empty"  # a required term matches nothing
        kinds = {t: kd for t, kd in kinds.items() if t in stats}
        # a pure disjunction needs one SHOULD match by construction
        msm = q.min_should_match if q.must else max(1, q.min_should_match)
        if q.should and msm > sum(kd == _SHOULD for kd in kinds.values()):
            return "empty"
        boosts = {c.term: c.boost for c in scoring}
        weights = {
            t: self._weight(stats[t][0], boosts[t], field, ttf=stats[t][1])
            for t, kd in kinds.items() if kd in (_MUST, _SHOULD)
        }
        return {
            "q": q,
            "field": field,
            "kinds": kinds,
            "weights": weights,
            "msm": msm,
            "filter": joined[_FILTER],
            "must_not": joined[_MUST_NOT],
        }

    def _term_bool_plan(self, st, k: int | None = None,
                        candidates=None) -> DataFrame:
        """The leaf plan of a term-leaf BoolQ (state from
        _term_bool_state): one postings scan over every term in
        ``st["kinds"]`` and one grouped call per salt (_leaf_scored) whose
        evaluator (_bool_leaf) applies the clause kinds, msm, float rules
        and the query boost, so a salt's top ``k`` is cut on the final
        score. FILTER / MUST_NOT clauses the scan does not carry join
        after the leaf; they change the hit set, so then every match is
        emitted."""
        q, kinds, field = st["q"], st["kinds"], st["field"]
        rows = self.index.postings_for_terms(list(kinds), field).select(
            "salt", "term", "blocks"
        )
        evaluate = _bool_leaf(kinds, st["weights"], self._scorer(field),
                              st["msm"], self.scoring == "lucene", q.boost)
        joined = st["filter"] or st["must_not"]
        combined = self._leaf_scored(rows, evaluate, None if joined else k,
                                     candidates)
        for c in st["filter"]:
            combined = combined.join(self.doc_set(c), "doc_id", "left_semi")
        for c in st["must_not"]:
            combined = combined.join(self.doc_set(c), "doc_id", "left_anti")
        return combined

    def search_after(self, q, k: int, after_score: float, after_doc: int,
                     field_filters: tuple = ()) -> DataFrame:
        """Cursor pagination (IndexSearcher.searchAfter:470-520): resume
        strictly below the (score, docID) mark."""
        scored = self.scored(q)
        for ff in field_filters:
            scored = scored.join(self.doc_set(ff), "doc_id", "left_semi")
        below = (F.col("score") < after_score) | (
            (F.col("score") == after_score) & (F.col("doc_id") > after_doc)
        )
        return scored.filter(below).orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _term_doc_freq_norm(self, term: str, field, doc_id: int):
        """(freq, norm) of one (term, doc) from the postings, or None.
        Salt + bucket predicates prune the scan to one row."""
        rows = (
            self.index.postings_for_terms([term], field)
            .filter(F.col("salt") == doc_id // self.index.salt_rows)
            .select("blocks")
            .collect()
        )
        for row in rows:
            for blk in row["blocks"]:
                if blk["first_docid"] <= doc_id <= blk["last_docid"]:
                    d, f, nm = decode_block(blk)
                    i = int(np.searchsorted(d, doc_id))
                    if i < len(d) and d[i] == doc_id:
                        return int(f[i]), int(nm[i])
        return None

    def explain(self, q, doc_id: int) -> dict:
        """Explanation analog (search/Explanation.java, IndexSearcher
        .explain): nested {value, description, details} whose root value
        equals the engine's score for this doc bit-for-bit (the
        components are computed with the same bm25 arithmetic as the
        decode UDF, in the searcher's scoring mode)."""
        q = P.rewrite(q)
        # non-matches carry a structured matched=False marker (Lucene
        # Explanation.noMatch analog) — parents must NOT sniff description
        # strings, a nested failed MUST reports a different description
        NO = {"value": 0.0, "description": "no matching term",
              "details": [], "matched": False}
        if isinstance(q, P.TermQ):
            stats = self.index.stats_for_terms([q.term], q.field)
            if q.term not in stats:
                return NO
            fn = self._term_doc_freq_norm(q.term, q.field, doc_id)
            if fn is None:
                return NO
            freq, norm = fn
            df = stats[q.term][0]
            dc = self.index.doc_count_for(q.field)
            w = self._weight(df, q.boost, q.field, ttf=stats[q.term][1])
            val = float(
                self._scorer(q.field)(np.array([freq]), np.array([norm]), w)[0]
            )
            dl = float(LENGTH_TABLE[norm & 0xFF])
            return {
                "value": val,
                "description": (
                    f"weight({q.term} in {doc_id}) [BM25], product of:"
                ),
                "details": [
                    {"value": float(q.boost), "description": "boost",
                     "details": []},
                    {"value": float(w) / float(q.boost),
                     "description": f"idf, n={df}, N={dc}", "details": []},
                    {"value": val / float(w),
                     "description": (
                         f"tf, freq={freq}, k1={bm25.K1}, b={bm25.B}, "
                         f"dl={dl}, avgdl={self.index.avgdl_dbl_for(q.field)}"
                     ),
                     "details": []},
                ],
            }
        if isinstance(q, P.BoostQ):
            inner = self.explain(q.inner, doc_id)
            if not inner.get("matched", True):
                return {"value": 0.0,
                        "description": f"boost {q.boost}, no match",
                        "details": [inner], "matched": False}
            val = inner["value"] * q.boost
            if self.scoring == "lucene":
                val = float(np.float32(inner["value"]) * np.float32(q.boost))
            return {
                "value": val,
                "description": f"boost {q.boost}, product of:",
                "details": [inner],
            }
        if isinstance(q, P.ConstScoreQ):
            hit = self.doc_set(q.inner).filter(
                F.col("doc_id") == doc_id
            ).count()
            return (
                {"value": float(q.boost),
                 "description": "ConstantScore", "details": []}
                if hit else NO
            )
        if isinstance(q, P.BoolQ):
            must = [self.explain(c, doc_id) for c in q.must]
            should = [self.explain(c, doc_id) for c in q.should]
            if any(not m.get("matched", True) for m in must):
                return {"value": 0.0,
                        "description": "failure to meet MUST clause",
                        "details": must, "matched": False}
            for c in q.must_not:
                if self.doc_set(c).filter(F.col("doc_id") == doc_id).count():
                    return {"value": 0.0,
                            "description": "match on prohibited clause",
                            "details": [], "matched": False}
            for c in q.filter:
                if not self.doc_set(c).filter(
                    F.col("doc_id") == doc_id
                ).count():
                    return {"value": 0.0,
                            "description": "failure to meet FILTER clause",
                            "details": [], "matched": False}
            matching = [m for m in must] + [
                s for s in should if s.get("matched", True)
            ]
            n_should = sum(1 for s in should if s.get("matched", True))
            if q.min_should_match and n_should < q.min_should_match:
                return {"value": 0.0,
                        "description": "failure to meet minShouldMatch",
                        "details": [], "matched": False}
            if not matching:
                return {"value": 0.0, "description": "no matching clause",
                        "details": must + should, "matched": False}
            val = float(np.sum([m["value"] for m in matching], dtype=np.float64))
            return {"value": val, "description": "sum of:",
                    "details": matching}
        if isinstance(q, P.DisMaxQ):
            ds = [self.explain(c, doc_id) for c in q.clauses]
            hits = [d for d in ds if d.get("matched", True)]
            if not hits:
                return NO
            vals = [d["value"] for d in hits]
            mx = max(vals)
            val = mx + q.tiebreak * (sum(vals) - mx)
            return {
                "value": float(val),
                "description": f"max plus {q.tiebreak} times others of:",
                "details": hits,
            }
        if isinstance(q, P.DistanceFeatureQ):
            # LongDistanceFeatureQuery.java:105-125 explain: weight /
            # pivotDistance / origin / current value as details
            row = self.index.docs.filter(
                F.col("doc_id") == doc_id
            ).select(q.col).collect()
            if not row or row[0][0] is None:
                return {
                    "value": 0.0,
                    "description": (
                        f"Document {doc_id} doesn't have a value "
                        f"for field {q.col}"
                    ),
                    "details": [], "matched": False,
                }
            value = float(row[0][0])
            dist = abs(value - float(q.origin))
            val = float(q.boost) * (
                float(q.pivot) / (float(q.pivot) + dist)
            )
            if self.scoring == "lucene":
                val = float(np.float32(val))
            return {
                "value": val,
                "description": (
                    "Distance score, computed as weight * pivotDistance"
                    " / (pivotDistance + abs(value - origin)) from:"
                ),
                "details": [
                    {"value": float(q.boost), "description": "weight",
                     "details": []},
                    {"value": float(q.pivot),
                     "description": "pivotDistance", "details": []},
                    {"value": float(q.origin), "description": "origin",
                     "details": []},
                    {"value": value, "description": "current value",
                     "details": []},
                ],
            }
        if isinstance(q, P.GeoDistanceFeatureQ):
            # LatLonPointDistanceFeatureQuery.java:119-140 explain:
            # weight / pivotDistance / originLat / originLon / current
            # lat / current lon / computed distance as details; docs
            # with either coordinate missing explain as no-match.
            from lucene_spark.geo import haversine_meters_py

            row = self.index.docs.filter(
                F.col("doc_id") == doc_id
            ).select(q.lat_col, q.lon_col).collect()
            if (
                not row
                or row[0][0] is None
                or row[0][1] is None
            ):
                return {
                    "value": 0.0,
                    "description": (
                        f"Document {doc_id} doesn't have a value "
                        f"for fields {q.lat_col},{q.lon_col}"
                    ),
                    "details": [], "matched": False,
                }
            cur_lat, cur_lon = float(row[0][0]), float(row[0][1])
            dist = haversine_meters_py(cur_lat, cur_lon, q.lat, q.lon)
            val = float(q.boost) * (
                float(q.pivot_m) / (float(q.pivot_m) + dist)
            )
            if self.scoring == "lucene":
                val = float(np.float32(val))
            return {
                "value": val,
                "description": (
                    "Distance score, computed as weight * pivotDistance"
                    " / (pivotDistance + distance) from:"
                ),
                "details": [
                    {"value": float(q.boost), "description": "weight",
                     "details": []},
                    {"value": float(q.pivot_m),
                     "description": "pivotDistance", "details": []},
                    {"value": float(q.lat), "description": "originLat",
                     "details": []},
                    {"value": float(q.lon), "description": "originLon",
                     "details": []},
                    {"value": cur_lat, "description": "current lat",
                     "details": []},
                    {"value": cur_lon, "description": "current lon",
                     "details": []},
                    {"value": float(dist), "description": "distance",
                     "details": []},
                ],
            }
        # generic fallback: score the query, pick this doc
        row = (
            self.scored(q)
            .filter(F.col("doc_id") == doc_id)
            .collect()
        )
        if not row:
            return NO
        return {"value": float(row[0]["score"]),
                "description": "score", "details": []}

    def count(self, q) -> int:
        """TotalHitCountCollector analog, with the Weight#count fast
        paths (search/Weight.java:180-210, TermQuery.java count(),
        MatchAllDocsQuery count()): when the index has no deletes, a
        term's hit count IS its df from the (memoized, collected-once)
        stats table and MatchAll's is maxDoc — O(1), no postings scan.
        Everything else falls back to the distributed doc-set count."""
        qr = P.rewrite(q)
        if self._deletes is None:
            if isinstance(qr, P.MatchAllQ):
                return int(self.index.N)
            if isinstance(qr, P.TermQ):
                stats = self.index.stats_for_terms([qr.term], qr.field)
                return int(stats[qr.term][0]) if qr.term in stats else 0
        return self.doc_set(qr).count()
