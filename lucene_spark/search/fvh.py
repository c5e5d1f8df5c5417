"""FastVectorHighlighter analog — term-vector-sourced fragment
highlighting with phrase-accurate match offsets, weighted fragment
selection, multi-colored tags and boundary-aligned snippets.

Reference: ``highlighter/.../vectorhighlight/FastVectorHighlighter.java:27``
and its collaborators:

- ``FieldQuery.java:55`` — flatten the query into terms + phrases, build
  the per-field term trie (``QueryPhraseMap``) with per-entry boost,
  slop and a sequence number used to pick the colored tag; overlapping
  phrases are pre-joined (``expand``: "a b" + "b c" -> "a b c").
- ``FieldTermStack.java:40`` — the doc's term-vector entries restricted
  to the query's term set, one entry per occurrence, position order;
  entry weight = ``log(numDocs/(df+1)) + 1``.
- ``FieldPhraseList.java:33`` — longest-match walk of the term stack
  through the trie producing non-overlapping ``WeightedPhraseInfo``
  matches (slop-checked for phrases, offsets of position-adjacent terms
  merged).
- ``BaseFragListBuilder.java:26`` — greedy fragment windows of
  ``frag_char_size`` chars centered on the matched span; the Simple
  (``SimpleFieldFragList.java``, score = sum of phrase boosts) and
  Weighted (``WeightedFieldFragList.java``, idf-weighted, sqrt-length
  normalized) scoring variants.
- ``BaseFragmentsBuilder.java:45`` — render each window with
  ``pre_tags[seqnum % n]``/``post_tags[seqnum % n]`` tags (colored
  highlighting) after snapping window edges to boundary characters
  (``SimpleBoundaryScanner.java:27``), score-ordered
  (``ScoreOrderFragmentsBuilder.java``) or source-ordered.

Spark shape: the per-doc machinery runs inside ONE ``applyInPandas``
over the k hit docs — term-vector rows are fetched with a doc_id +
term pushdown on the doc-clustered ``tvec`` parquet (row-group pruned,
cost O(hits), independent of term df), the stored text joins in via a
broadcast of the hit ids, and the trie/stats ship as a tiny closure.
Nothing about this path touches the postings or scales with corpus
size — the 100 TB story is the same as the reference's: highlighting
cost is per *hit*, and hits are top-k.

Deviations (documented): fields here are single-valued strings, so the
multi-valued buffer walk and ``discreteMultiValueHighlighting`` of
``BaseFragmentsBuilder.java:150`` are n/a; the HTML encoder seam is a
plain callable (default identity, like the reference's
``DefaultEncoder``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field as dc_field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lucene_spark.search import plans as P
from lucene_spark.search.executor import empty_frame

# BaseFragmentsBuilder.java:48-63 — the stock colored tag sets
COLORED_PRE_TAGS = tuple(
    f'<b style="background:{c}">'
    for c in (
        "yellow", "lawngreen", "aquamarine", "magenta", "palegreen",
        "coral", "wheat", "khaki", "lime", "deepskyblue", "deeppink",
        "salmon", "peachpuff", "violet", "mediumpurple",
        "palegoldenrod", "darkkhaki", "springgreen", "turquoise",
        "powderblue",
    )
)
COLORED_POST_TAGS = ("</b>",)

MAX_MTQ_TERMS = 1024  # FieldQuery.java MAX_MTQ_TERMS


# ---------------------------------------------------------------------------
# FieldQuery: flatten -> expand -> term trie
# ---------------------------------------------------------------------------


class _Node:
    """QueryPhraseMap (FieldQuery.java:513+): one trie node per term
    path; terminal nodes carry the match's boost/slop/seqnum."""

    __slots__ = ("sub", "terminal", "slop", "boost", "seqnum")

    def __init__(self):
        self.sub: dict = {}
        self.terminal = False
        self.slop = 0
        self.boost = 1.0
        self.seqnum = 0

    def mark(self, boost: float, slop: int, seqnum: int) -> None:
        self.terminal, self.boost, self.slop, self.seqnum = True, boost, slop, seqnum


@dataclass(frozen=True)
class _FlatTerm:
    field: str | None
    text: str
    boost: float


@dataclass(frozen=True)
class _FlatPhrase:
    field: str | None
    terms: tuple
    slop: int
    boost: float


class FieldQuery:
    """Flattened query view for highlighting (FieldQuery.java:55-96).

    ``field_match=False`` (the reference default) highlights a query
    term regardless of which field it was written against — all terms
    land in one trie under the ``None`` key."""

    def __init__(
        self,
        query,
        searcher=None,
        phrase_highlight: bool = True,
        field_match: bool = False,
    ):
        self.phrase_highlight = phrase_highlight
        self.field_match = field_match
        self._seq = 0
        flat: list = []
        self._flatten(query, searcher, flat, 1.0)
        flat = self._expand(flat)
        # termSetMap (FieldQuery.java saveTerms)
        self.term_sets: dict = {}
        for fq in flat:
            key = fq.field if field_match else None
            s = self.term_sets.setdefault(key, set())
            if isinstance(fq, _FlatTerm):
                s.add(fq.text)
            else:
                s.update(fq.terms)
        # rootMaps
        self.roots: dict = {}
        for fq in flat:
            key = fq.field if field_match else None
            root = self.roots.setdefault(key, _Node())
            if isinstance(fq, _FlatTerm):
                self._add_term(root, fq.text, fq.boost)
            else:
                self._add_phrase(root, fq.terms, fq.slop, fq.boost)
                if not phrase_highlight and len(fq.terms) > 1:
                    # phraseHighlight=false: also highlight the phrase's
                    # individual terms (FieldQuery.java:77-82)
                    for t in fq.terms:
                        self._add_term(root, t, fq.boost)

    # -- flatten (FieldQuery.java:98-163) --------------------------------
    def _flatten(self, q, searcher, out: list, boost: float) -> None:
        if isinstance(q, P.BoostQ):
            return self._flatten(q.query, searcher, out, boost * q.boost)
        if isinstance(q, P.ConstScoreQ):
            return self._flatten(q.query, searcher, out, boost)
        if isinstance(q, P.FunctionScoreQ):
            return self._flatten(q.query, searcher, out, boost)
        if isinstance(q, P.BoolQ):
            for c in (*q.must, *q.should, *q.filter):  # not prohibited
                self._flatten(c, searcher, out, boost * q.boost)
            return
        if isinstance(q, P.DisMaxQ):
            for c in q.clauses:
                self._flatten(c, searcher, out, boost * q.boost)
            return
        if isinstance(q, P.SynonymQ):
            for t in q.terms:
                self._add_flat(out, _FlatTerm(q.field, t, boost * q.boost))
            return
        if isinstance(q, P.TermQ):
            return self._add_flat(out, _FlatTerm(q.field, q.term, boost * q.boost))
        if isinstance(q, P.PhraseQ):
            if len(q.terms) == 1:
                return self._add_flat(
                    out, _FlatTerm(q.field, q.terms[0], boost * q.boost)
                )
            return self._add_flat(
                out, _FlatPhrase(q.field, tuple(q.terms), q.slop, boost * q.boost)
            )
        if isinstance(q, P.MultiPhraseQ):
            # one flat phrase per alternative combination is exponential;
            # the reference flattens MultiPhraseQuery positions-first —
            # here each position's alternatives become slop-0 phrases
            # only when unambiguous, else individual terms
            for alts in q.positions:
                for t in alts:
                    self._add_flat(out, _FlatTerm(q.field, t, boost * q.boost))
            return
        if isinstance(q, (P.PrefixQ, P.WildcardQ, P.RegexpQ)) and searcher is not None:
            # MultiTermQuery: top-terms rewrite then flatten
            # (FieldQuery.java:152-160)
            exp = searcher._predicate_term_stats(
                searcher._multiterm_pred(q), q.field, limit=MAX_MTQ_TERMS
            )
            for t, _df, _ttf in exp:
                self._add_flat(out, _FlatTerm(q.field, t, boost * q.boost))
            return
        # unsupported nodes contribute nothing to highlighting
        return

    @staticmethod
    def _add_flat(out: list, fq) -> None:
        if fq not in out:  # LinkedHashSet semantics
            out.append(fq)

    # -- expand overlapping phrases (FieldQuery.java:165-252) ------------
    def _expand(self, flat: list) -> list:
        out: list = []
        pending = list(flat)
        while pending:
            q = pending.pop(0)
            if q not in out:
                out.append(q)
            if not isinstance(q, _FlatPhrase):
                continue
            for qj in pending:
                if not isinstance(qj, _FlatPhrase) or qj.slop != q.slop:
                    continue
                if self.field_match and q.field != qj.field:
                    continue
                self._check_overlap(out, q.terms, qj.terms, q.slop, q.field)
                self._check_overlap(out, qj.terms, q.terms, q.slop, q.field)
        return out

    def _check_overlap(self, out, src, dest, slop, fld) -> None:
        for i in range(1, len(src)):
            if all(
                src[j] == dest[j - i]
                for j in range(i, len(src))
                if j - i < len(dest)
            ) and len(src) - i < len(dest):
                joined = tuple(src) + tuple(dest[len(src) - i:])
                fq = _FlatPhrase(fld, joined, slop, 1.0)
                if fq not in out:
                    out.append(fq)

    # -- trie -------------------------------------------------------------
    def _add_term(self, root: _Node, text: str, boost: float) -> None:
        node = root.sub.setdefault(text, _Node())
        node.mark(boost, 0, self._next_seq())

    def _add_phrase(self, root: _Node, terms, slop: int, boost: float) -> None:
        node = root
        for t in terms:
            node = node.sub.setdefault(t, _Node())
        node.mark(boost, slop, self._next_seq())

    def _next_seq(self) -> int:
        self._seq += 1
        return self._seq - 1

    def root_for(self, field: str | None) -> _Node | None:
        return self.roots.get(field if self.field_match else None)

    def term_set_for(self, field: str | None) -> set:
        return self.term_sets.get(field if self.field_match else None, set())


# ---------------------------------------------------------------------------
# FieldTermStack + FieldPhraseList (per doc, executor-side)
# ---------------------------------------------------------------------------


@dataclass
class TermInfo:
    """FieldTermStack.TermInfo: one occurrence of a query term."""

    text: str
    start: int
    end: int
    position: int
    weight: float


@dataclass
class PhraseInfo:
    """FieldPhraseList.WeightedPhraseInfo: one (possibly multi-term)
    match with merged character offsets."""

    toffs: list  # [(start, end)] — position-adjacent terms merged
    boost: float
    seqnum: int
    terms: list = dc_field(default_factory=list)  # TermInfo list

    @property
    def start(self) -> int:
        return self.toffs[0][0]

    @property
    def end(self) -> int:
        return self.toffs[-1][1]


def _term_stack(rows, term_set: set, weights: dict) -> list:
    """Doc term-vector rows -> position-ascending occurrence groups.

    Same-position entries (overlapping tokens, e.g. synonyms injected
    at one position) form ONE group — the reference links them in a
    circular ``next`` chain (FieldTermStack.java:107-128); a group is
    the Python shape of that chain."""
    occs: list = []
    for term, positions, starts, lengths in rows:
        if term not in term_set:
            continue
        w = weights.get(term, 1.0)
        for p, s, ln in zip(positions, starts, lengths):
            occs.append(TermInfo(term, int(s), int(s) + int(ln), int(p), w))
    occs.sort(key=lambda ti: (ti.position, ti.text))
    groups: list = []
    for ti in occs:
        if groups and groups[-1][0].position == ti.position:
            groups[-1].append(ti)
        else:
            groups.append([ti])
    return groups


def _is_valid(node: _Node, candidate: list) -> bool:
    """QueryPhraseMap.isValidTermOrPhrase (FieldQuery.java:600-616):
    terminal + per-gap slop check."""
    if not node.terminal:
        return False
    if len(candidate) == 1:
        return True
    pos = candidate[0].position
    for ti in candidate[1:]:
        if abs(ti.position - pos - 1) > node.slop:
            return False
        pos = ti.position
    return True


def _search_phrase(root: _Node, candidate: list) -> _Node | None:
    node = root
    for ti in candidate:
        node = node.sub.get(ti.text)
        if node is None:
            return None
    return node if _is_valid(node, candidate) else None


def field_phrase_list(
    groups: list, root: _Node, phrase_limit: int = 2**31 - 1
) -> list:
    """FieldPhraseList.java:61-120 — longest-match walk with backtrack.

    ``groups`` is consumed front-to-back as the term stack; each entry
    is the same-position occurrence group."""
    phrases: list = []
    stack = list(groups)

    def pop():
        return stack.pop(0) if stack else None

    def push(group):
        stack.insert(0, group)

    while stack and len(phrases) < phrase_limit:
        group = pop()
        # pick the first same-position entry known to the trie
        ti, cur = None, None
        for cand_ti in group:
            cur = root.sub.get(cand_ti.text)
            if cur is not None:
                ti = cand_ti
                break
        if cur is None:
            continue
        candidate = [ti]
        while True:
            group = pop()
            nxt, ti2 = None, None
            if group is not None:
                for cand_ti in group:
                    nxt = cur.sub.get(cand_ti.text)
                    if nxt is not None:
                        ti2 = cand_ti
                        break
            if group is None or nxt is None:
                if group is not None:
                    push(group)
                if _is_valid(cur, candidate):
                    _add_if_no_overlap(phrases, _phrase_info(candidate, cur))
                else:
                    # backtrack: shed tail terms until a shorter valid
                    # phrase emerges (FieldPhraseList.java:96-106)
                    while len(candidate) > 1:
                        push([candidate.pop()])
                        m = _search_phrase(root, candidate)
                        if m is not None:
                            _add_if_no_overlap(phrases, _phrase_info(candidate, m))
                            break
                break
            candidate.append(ti2)
            cur = nxt
    return phrases


def _phrase_info(candidate: list, node: _Node) -> PhraseInfo:
    """WeightedPhraseInfo ctor (FieldPhraseList.java:310-337): merge
    offsets of position-adjacent terms into single Toffs spans."""
    toffs = [(candidate[0].start, candidate[0].end)]
    pos = candidate[0].position
    for ti in candidate[1:]:
        if ti.position - pos == 1:
            toffs[-1] = (toffs[-1][0], ti.end)
        else:
            toffs.append((ti.start, ti.end))
        pos = ti.position
    return PhraseInfo(toffs, node.boost, node.seqnum, list(candidate))


def _add_if_no_overlap(phrases: list, wpi: PhraseInfo) -> None:
    """FieldPhraseList.addIfNoOverlap: overlapping matches keep the
    first match's offsets but absorb the new terms (reference quirk,
    FieldPhraseList.java:174-186)."""
    for existing in phrases:
        if existing.start <= wpi.end and wpi.start <= existing.end:
            existing.terms.extend(wpi.terms)
            return
    phrases.append(wpi)


# ---------------------------------------------------------------------------
# FragList building (BaseFragListBuilder.java:26)
# ---------------------------------------------------------------------------

MARGIN_DEFAULT = 6


@dataclass
class SubInfo:
    toffs: list
    seqnum: int
    boost: float


@dataclass
class FragInfo:
    start: int
    end: int
    subs: list
    total_boost: float


def create_frag_list(
    phrases: list,
    frag_char_size: int,
    weighted: bool = True,
    margin: int = MARGIN_DEFAULT,
) -> list:
    """BaseFragListBuilder.createFieldFragList: greedy windows over the
    offset-ordered phrase list, each centered on its matched span;
    ``weighted`` picks WeightedFieldFragList scoring (idf x sqrt-length
    norm) over SimpleFieldFragList (sum of boosts)."""
    min_size = max(1, margin * 3)
    if frag_char_size < min_size:
        raise ValueError(f"frag_char_size({frag_char_size}) < {min_size}")
    frags: list = []
    queue = list(phrases)
    start_offset = 0
    i = 0
    while i < len(queue):
        phrase = queue[i]
        if phrase.start < start_offset:
            i += 1
            continue
        wpil = []
        cur_start = phrase.start
        cur_end = phrase.end
        span_start = max(cur_start - margin, start_offset)
        span_end = max(cur_end, span_start + frag_char_size)
        if _accept_phrase(phrase, cur_end - cur_start, frag_char_size):
            wpil.append(phrase)
        i += 1
        while i < len(queue):
            phrase = queue[i]
            if phrase.end > span_end:
                break
            cur_end = phrase.end
            if _accept_phrase(phrase, cur_end - cur_start, frag_char_size):
                wpil.append(phrase)
            i += 1
        if not wpil:
            continue
        match_len = cur_end - cur_start
        new_margin = max(0, (frag_char_size - match_len) // 2)
        span_start = max(cur_start - new_margin, start_offset)
        span_end = span_start + max(match_len, frag_char_size)
        start_offset = span_end
        frags.append(_frag_info(span_start, span_end, wpil, weighted))
    return frags


def _accept_phrase(info: PhraseInfo, match_len: int, frag_char_size: int) -> bool:
    return len(info.toffs) <= 1 or match_len <= frag_char_size


def _frag_info(start: int, end: int, wpil: list, weighted: bool) -> FragInfo:
    if not weighted:
        # SimpleFieldFragList.add
        subs = [SubInfo(p.toffs, p.seqnum, p.boost) for p in wpil]
        return FragInfo(start, end, subs, sum(p.boost for p in wpil))
    # WeightedFieldFragList.add: distinct-term idf weights x boost,
    # normalized by sqrt(total terms in fragment)
    seen: set = set()
    tmp = []
    length = 0
    for p in wpil:
        phrase_boost = 0.0
        for ti in p.terms:
            if ti.text not in seen:
                seen.add(ti.text)
                phrase_boost += ti.weight * p.boost
            length += 1
        tmp.append(SubInfo(p.toffs, p.seqnum, phrase_boost))
    norm = length / math.sqrt(length) if length else 0.0
    subs = [SubInfo(s.toffs, s.seqnum, s.boost * norm) for s in tmp]
    return FragInfo(start, end, subs, sum(s.boost for s in subs))


# ---------------------------------------------------------------------------
# Fragments building (BaseFragmentsBuilder.java:200+)
# ---------------------------------------------------------------------------

BOUNDARY_CHARS = frozenset(".,!? \t\n")


def _find_start(text: str, start: int, max_scan: int, chars) -> int:
    """SimpleBoundaryScanner.findStartOffset."""
    if start > len(text) or start < 1:
        return start
    offset = start
    for _ in range(max_scan):
        if offset <= 0:
            break
        if text[offset - 1] in chars:
            return offset
        offset -= 1
    return 0 if offset == 0 else start


def _find_end(text: str, start: int, max_scan: int, chars) -> int:
    """SimpleBoundaryScanner.findEndOffset."""
    if start > len(text) or start < 0:
        return start
    offset = start
    for _ in range(max_scan):
        if offset >= len(text):
            break
        if text[offset] in chars:
            return offset
        offset += 1
    return start


def make_fragment(
    text: str,
    frag: FragInfo,
    pre_tags,
    post_tags,
    max_scan: int = 20,
    boundary_chars=BOUNDARY_CHARS,
    encoder=None,
) -> str:
    """BaseFragmentsBuilder.makeFragment: boundary-snap the window,
    then interleave text with per-seqnum tags."""
    enc = encoder or (lambda s: s)
    eo = len(text) if len(text) < frag.end else _find_end(
        text, frag.end, max_scan, boundary_chars
    )
    mso = _find_start(text, frag.start, max_scan, boundary_chars)
    src = text[mso:eo]
    out = []
    idx = 0
    for sub in frag.subs:
        for s, e in sub.toffs:
            out.append(enc(src[idx : s - mso]))
            out.append(pre_tags[sub.seqnum % len(pre_tags)])
            out.append(enc(src[s - mso : e - mso]))
            out.append(post_tags[sub.seqnum % len(post_tags)])
            idx = e - mso
    out.append(enc(src[idx:]))
    return "".join(out)


# ---------------------------------------------------------------------------
# Top level
# ---------------------------------------------------------------------------

_FVH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frag_num", T.IntegerType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("fragment", T.StringType()),
    ]
)


def fvh_highlight(
    index,
    hits: DataFrame,
    query,
    field: str | None = None,
    frag_char_size: int = 100,
    max_num_fragments: int = 3,
    pre_tags=("<b>",),
    post_tags=("</b>",),
    weighted: bool = True,
    score_order: bool = True,
    phrase_highlight: bool = True,
    field_match: bool = False,
    phrase_limit: int = 2**31 - 1,
    margin: int = MARGIN_DEFAULT,
    boundary_max_scan: int = 20,
    boundary_chars: str = ".,!? \t\n",
    searcher=None,
) -> DataFrame:
    """FastVectorHighlighter.getBestFragments as a DataFrame op.

    hits(doc_id, ...) -> (doc_id, frag_num, score, fragment): up to
    ``max_num_fragments`` rows per hit doc, ``score_order=True``
    ranking fragments by weight (ScoreOrderFragmentsBuilder), else
    source order. Docs with no phrase match produce no rows (the
    reference returns null).

    Requires term vectors with positions+offsets
    (``build_term_vectors``)."""
    tv = index.term_vectors
    if tv is None:
        raise ValueError(
            "index has no term vectors (build_term_vectors(spark, index_dir))"
        )
    fq = FieldQuery(
        query, searcher=searcher, phrase_highlight=phrase_highlight,
        field_match=field_match,
    )
    fld = index.resolve_field(field)
    term_set = fq.term_set_for(fld)
    root = fq.root_for(fld)
    if not term_set or root is None:
        return empty_frame(hits.sparkSession, _FVH_SCHEMA)
    # TermInfo weight = log(numDocs/(df+1)) + 1 (FieldTermStack.java:89)
    num_docs = index.doc_count_for(field)
    stats = index.stats_for_terms(sorted(term_set), field)
    weights = {
        t: math.log(num_docs / (df + 1.0)) + 1.0 for t, (df, _ttf) in stats.items()
    }
    hit_ids = [int(r["doc_id"]) for r in hits.select("doc_id").collect()]
    rows = tv.filter(
        F.col("doc_id").isin(hit_ids)
        & (F.col("field") == fld)
        & F.col("term").isin(sorted(term_set))
    ).select("doc_id", "term", "positions", "starts", "lengths")
    text_col = index.manifest["text_col"]
    fetched = F.broadcast(hits.select("doc_id")).join(
        index.corpus.select("doc_id", text_col), "doc_id"
    )
    joined = fetched.join(rows, "doc_id", "left")
    chars = frozenset(boundary_chars)
    pre_t, post_t = tuple(pre_tags), tuple(post_tags)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        doc_id = int(pdf["doc_id"].iat[0])
        text = pdf[text_col].iat[0] or ""
        tv_rows = [
            (t, p, s, ln)
            for t, p, s, ln in zip(
                pdf["term"], pdf["positions"], pdf["starts"], pdf["lengths"]
            )
            if t is not None and p is not None
        ]
        out = {"doc_id": [], "frag_num": [], "score": [], "fragment": []}
        if tv_rows:
            groups = _term_stack(tv_rows, term_set, weights)
            phrases = field_phrase_list(groups, root, phrase_limit)
            frags = create_frag_list(phrases, frag_char_size, weighted, margin) \
                if phrases else []
            if score_order:
                frags = sorted(frags, key=lambda fr: -fr.total_boost)
            for n, fr in enumerate(frags[:max_num_fragments]):
                out["doc_id"].append(doc_id)
                out["frag_num"].append(n)
                out["score"].append(float(fr.total_boost))
                out["fragment"].append(
                    make_fragment(
                        text, fr, pre_t, post_t, boundary_max_scan, chars
                    )
                )
        return pd.DataFrame(out)

    return joined.groupBy("doc_id").applyInPandas(build, schema=_FVH_SCHEMA)
