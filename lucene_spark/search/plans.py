"""Logical query plan nodes — the Query-tree analog (search/Query.java).

Each dataclass mirrors one reference query operator (citations inline).
``rewrite`` applies the reference's scoring-preserving simplifications
(BooleanQuery.rewrite, search/BooleanQuery.java:236-312) once — our
planner normalizes a single pass instead of Lucene's loop-to-fixpoint
(IndexSearcher.java:758), which suffices for this algebra.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class TermQ:
    """search/TermQuery.java:36 — exact term, BM25-scored."""

    term: str
    boost: float = 1.0
    field: str | None = None  # None = the index's default field


@dataclass(frozen=True)
class PhraseQ:
    """search/PhraseQuery.java:71 — terms at consecutive positions (slop=0).

    freq = number of exact matches; weight = summed per-term idf
    (BM25Similarity.java:191-200); two-phase verify like
    ExactPhraseMatcher.java:39.
    """

    terms: tuple
    slop: int = 0
    boost: float = 1.0
    field: str | None = None
    # explicit per-term positions (PhraseQuery.Builder.add(term, pos));
    # None = consecutive 0..len-1. Used by the NGramPhraseQ rewrite.
    positions: tuple | None = None


@dataclass(frozen=True)
class NGramPhraseQ:
    """search/NGramPhraseQuery.java:30-77 — phrase over an n-gram token
    stream. rewrite() drops redundant overlapping grams (keep every
    n-th term and the last, at their ORIGINAL positions) when slop=0,
    n>=2 and len>=3; otherwise degrades to the plain PhraseQuery."""

    n: int
    terms: tuple
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class MultiPhraseQ:
    """search/MultiPhraseQuery.java:53 — phrase with term alternatives
    per position: positions is a tuple of tuples of terms. Weight =
    summed idf over every term (MultiPhraseQuery scoring)."""

    positions: tuple  # tuple[tuple[str, ...], ...]
    slop: int = 0
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class FunctionScoreQ:
    """queries/function/FunctionScoreQuery.java:44-103 — re-score the
    inner query's matches from a DoubleValuesSource over doc values:
      mode='replace':  score = source  (FunctionScoreQuery(in, source))
      mode='multiply': score = inner score * source  (boostByValue)
    ``source`` is a SQL column expression over docs-table columns (the
    expressions-module analog: Catalyst compiles it JVM-side)."""

    inner: object
    source: str
    mode: str = "replace"
    boost: float = 1.0


@dataclass(frozen=True)
class SynonymQ:
    """search/SynonymQuery.java:52 — terms scored as one pseudo-term:
    df = max over terms, ttf = sum, freq = per-doc sum (lines 198-214)."""

    terms: tuple
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class BlendedTermQ:
    """search/BlendedTermQuery.java (334) — terms scored with BLENDED
    statistics (df = max over terms, like the builder's default
    DisjunctionMaxRewrite with tiebreak 0.01), then combined as a
    disjunction-max: score = max + tiebreak * (sum - max)."""

    terms: tuple
    tiebreak: float = 0.01
    boost: float = 1.0
    field: str | None = None
    # fields to blend across (BlendedTermQuery's whole point is shared
    # statistics across Term(field, text) pairs, BlendedTermQuery.java:334):
    # every term is scored in every listed field with the blended (max)
    # df, combined disjunction-max. None = just the default field.
    fields: tuple | None = None


@dataclass(frozen=True)
class BoolQ:
    """search/BooleanQuery.java:77-176. Clause lists by occur type."""

    must: tuple = ()
    should: tuple = ()
    must_not: tuple = ()
    filter: tuple = ()
    min_should_match: int = 0
    boost: float = 1.0


@dataclass(frozen=True)
class DisMaxQ:
    """search/DisjunctionMaxQuery.java:45 — max + tiebreak * (sum - max)."""

    clauses: tuple
    tiebreak: float = 0.0
    boost: float = 1.0


@dataclass(frozen=True)
class CombinedFieldQ:
    """sandbox/search/CombinedFieldQuery.java:91-446 (BM25F): score the
    given terms as ONE pseudo-term over ONE pseudo-field merging
    ``fields`` = ((field, weight>=1), ...):

    - pseudo term stats: df = max over every (term, field) pair
      (line 302); BM25 ignores the summed ttf;
    - pseudo collection stats: docCount = max over fields, sumTtf =
      Σ weight_f * sumTtf_f (lines 319-333);
    - per-doc freq = Σ weight_f * tf(term, field, doc) over all pairs
      (CombinedFieldScorer/WeightedDisiWrapper, lines 427-428);
    - per-doc norm = SmallFloat.intToByte4(round(Σ weight_f *
      LENGTH_TABLE[norm_f])) over ALL weighted fields, matched or not
      (MultiNormsLeafSimScorer.MultiFieldNormValues)."""

    terms: tuple
    fields: tuple  # ((field, weight), ...)
    boost: float = 1.0


@dataclass(frozen=True)
class CoveringQ:
    """sandbox/search/CoveringQuery.java:54-108 — a dynamic-msm
    disjunction: doc matches when >= max(1, per-doc long value) of the
    ``queries`` match; score = Σ matching clause scores
    (CoveringScorer.java:138,211-216). ``min_match_col`` is the
    LongValuesSource analog: a SQL expression over docs-table columns;
    docs with a NULL value never match (javadoc: docs without a value
    do not match)."""

    queries: tuple
    min_match_col: str


@dataclass(frozen=True)
class TermAutomatonQ:
    """sandbox/search/TermAutomatonQuery.java:70 — proximity matching by
    a term automaton. ``transitions`` is a tuple of (from_state,
    to_state, term) with term=None for an ANY arc
    (addAnyTransition); state 0 is the initial state; ``accepts``
    lists accepting states. Weight = combined idf over the alphabet
    terms present in the index (TermAutomatonWeight, lines 364-399);
    freq = reference-exact countMatches (termautomaton.py)."""

    n_states: int
    transitions: tuple  # tuple[(int, int, str | None), ...]
    accepts: tuple
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class PhraseWildcardQ:
    """sandbox/search/PhraseWildcardQuery.java:63 — a phrase where each
    slot is either a single term (str) or a multi-term node (PrefixQ /
    WildcardQ / RegexpQ / TermRangeQ / FuzzyQ) expanded against the
    term dictionary under a TOTAL expansion budget
    (maxMultiTermExpansions) split evenly across the remaining
    multi-terms in clause order (lines 188-197:
    remainingExpansions / remainingMultiTerms). After expansion the
    query IS a MultiPhraseQ (same slot/alternative matching and
    summed-idf weight)."""

    clauses: tuple  # str | multi-term node, one per phrase position
    max_multi_term_expansions: int = 128
    slop: int = 0
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class ConstScoreQ:
    """search/ConstantScoreQuery.java:29 — inner matches, fixed score."""

    inner: object
    boost: float = 1.0


@dataclass(frozen=True)
class BoostQ:
    """search/BoostQuery.java:30 — multiply inner scores."""

    inner: object
    boost: float


@dataclass(frozen=True)
class MatchAllQ:
    """search/MatchAllDocsQuery.java:24 — every doc, score = boost."""

    boost: float = 1.0


# --- multi-term (pattern) queries; default CONSTANT_SCORE_REWRITE
#     (search/MultiTermQuery.java:53-83) ---


@dataclass(frozen=True)
class PrefixQ:
    """search/PrefixQuery.java:29.

    ``rewrite`` = MultiTermQuery.setRewriteMethod analog:
    'constant_score' (the reference default, MultiTermQuery.java:53-83),
    'scoring_boolean' (ScoringRewrite.SCORING_BOOLEAN_REWRITE: every
    matching term scored with its OWN df, SHOULD-sum; TooManyClauses
    beyond 1024 expansions, BooleanQuery.java maxClauseCount), or
    'top_terms_blended' (TopTermsBlendedFreqScoringRewrite: keep
    max_expansions terms — equal boosts, so lexicographically smallest
    survive the ScoreTerm queue, TopTermsRewrite.java:210-212 — scored
    with the blended max df)."""

    prefix: str
    boost: float = 1.0
    field: str | None = None
    rewrite: str = "constant_score"
    max_expansions: int = 50


@dataclass(frozen=True)
class WildcardQ:
    """search/WildcardQuery.java:38 — * and ? over terms.
    ``rewrite``: see PrefixQ."""

    pattern: str
    boost: float = 1.0
    field: str | None = None
    rewrite: str = "constant_score"
    max_expansions: int = 50


@dataclass(frozen=True)
class RegexpQ:
    """search/RegexpQuery.java:44 — whole-term match. Default syntax is
    the Lucene RegExp dialect (util/automaton/RegExp.java), compiled to
    an anchored Java pattern by search/regexp.py; operators with no
    sound translation (``~``, ``<n-m>``, nested ``&``) raise
    UnsupportedRegexpOperator. ``syntax="java"`` opts out to a raw
    Java-regex substring rlike."""

    pattern: str
    boost: float = 1.0
    field: str | None = None
    syntax: str = "lucene"


@dataclass(frozen=True)
class FuzzyQ:
    """search/FuzzyQuery.java:52 — edit-distance <= max_edits expansion.

    Scored path (the reference default): TopTermsBlendedFreqScoringRewrite
    with maxExpansions terms — per-term boost 1 - ed/min(|term|, |query|)
    (FuzzyTermsEnum.java:249-255), blended df = max over the kept
    expansions, SHOULD-sum combine (MultiTermQuery.java:173-212,
    BlendedTermQuery.java:281-290). `transpositions=True` counts a
    transposition as one edit (Damerau; we use the unrestricted variant
    to stay bit-identical with the DuckDB oracle's damerau_levenshtein —
    Lucene's parametric automaton is the restricted/OSA variant, which
    differs only on pathological pairs like 'ca'~'abc'). In filter
    context (doc_set, count) it matches the docs of the same kept
    expansions."""

    term: str
    max_edits: int = 2
    prefix_len: int = 0
    boost: float = 1.0
    max_expansions: int = 50
    transpositions: bool = True
    field: str | None = None


@dataclass(frozen=True)
class TermRangeQ:
    """search/TermRangeQuery.java:37 — lexicographic term range."""

    lower: str
    upper: str
    include_lower: bool = True
    include_upper: bool = True
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class TermInSetQ:
    """search/TermInSetQuery.java:74."""

    terms: tuple
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class IntervalTerm:
    """queries/.../intervals/Intervals.term — leaf: one interval per
    occurrence of the term, width 0. ``field`` scopes the leaf to a
    non-default field (FieldMaskingSpanQ lowering); None = the query's
    default field."""

    term: str
    field: str | None = None


@dataclass(frozen=True)
class IntervalOrdered:
    """Intervals.ordered(+maxgaps/maxwidth): minimal intervals containing
    one match of every source IN ORDER (Vigna minimal-interval
    semantics: result intervals containing another result are dropped)."""

    sources: tuple
    max_gaps: int = -1  # -1 = unlimited
    max_width: int = -1


@dataclass(frozen=True)
class IntervalUnordered:
    """Intervals.unordered: minimal windows containing one match of every
    source in any order."""

    sources: tuple
    max_gaps: int = -1
    max_width: int = -1


@dataclass(frozen=True)
class IntervalOr:
    """Intervals.or (queries/intervals/Intervals.java:106): union of the
    sources' intervals, minimalized."""

    sources: tuple


@dataclass(frozen=True)
class IntervalContaining:
    """Intervals.containing (Intervals.java:293): intervals of `big` that
    contain an interval of `small`."""

    big: object
    small: object


@dataclass(frozen=True)
class IntervalContainedBy:
    """Intervals.containedBy (Intervals.java:313): intervals of `small`
    contained within an interval of `big`."""

    small: object
    big: object


@dataclass(frozen=True)
class IntervalNotContaining:
    """Intervals.notContaining (Intervals.java:303): intervals of
    `minuend` that do NOT contain any interval of `subtrahend`.
    The subtrahend's terms are optional — a doc without them matches
    everywhere the minuend does."""

    minuend: object
    subtrahend: object


@dataclass(frozen=True)
class IntervalNotContainedBy:
    """Intervals.notContainedBy (Intervals.java:323): intervals of
    `small` not contained by any interval of `big` (big optional)."""

    small: object
    big: object


@dataclass(frozen=True)
class IntervalNotWithin:
    """Intervals.notWithin (Intervals.java:283): intervals of `minuend`
    that do not overlap `subtrahend` intervals extended by `positions`
    on both sides (subtrahend optional)."""

    minuend: object
    positions: int
    subtrahend: object


@dataclass(frozen=True)
class IntervalQ:
    """queries/.../intervals/IntervalQuery.java:59 — matches docs where
    the interval source produces >= 1 interval; per-interval weight
    1/(1 + gaps) summed into the BM25 freq (the reference's
    1/(1+slop)-style saturation), weight = summed idf of leaf terms."""

    source: object
    boost: float = 1.0


# ---------------------------------------------------------------------------
# Span query family (queries/spans: SpanTermQuery.java, SpanNearQuery.java,
# SpanOrQuery.java, SpanNotQuery.java:49, SpanFirstQuery.java,
# SpanContainingQuery.java, SpanWithinQuery.java) — the legacy positional
# API most Lucene applications still call. Every node LOWERS to the
# minimal-interval algebra via span_source() inside rewrite(): the
# interval evaluator subsumes span matching, and the span scoring shape
# (sloppyFreq += 1/(1+matchWidth), SpanScorer.java:141-159) is exactly
# IntervalQ's per-interval 1/(1+gaps) saturation. Two interval
# combinators below exist only for span semantics.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class IntervalFirst:
    """SpanFirstQuery.java analog: intervals of ``source`` whose span end
    falls within the first ``end`` positions (Lucene span ends are
    exclusive: span.end() <= end <=> inclusive iv_end < end)."""

    source: object
    end: int


@dataclass(frozen=True)
class IntervalPositionRange:
    """SpanPositionRangeQuery.java:39 analog: intervals of ``source``
    whose span start >= ``start`` AND span end <= ``end`` (exclusive
    span ends: endPosition() <= end <=> inclusive iv_end < end).
    IntervalFirst is the start=0 special case."""

    source: object
    start: int
    end: int


@dataclass(frozen=True)
class IntervalNotOverlapping:
    """SpanNotQuery.java:49 analog: intervals of ``minuend`` that do not
    overlap any ``subtrahend`` interval expanded by ``pre`` positions
    before its start and ``post`` after its end (subtrahend optional)."""

    minuend: object
    subtrahend: object
    pre: int = 0
    post: int = 0


@dataclass(frozen=True)
class SpanTermQ:
    """spans/SpanTermQuery.java — leaf span, one (p, p) span per hit.
    ``field`` scopes the leaf to a non-default field (None = default);
    a span tree may mix fields only through FieldMaskingSpanQ."""

    term: str
    boost: float = 1.0
    field: str | None = None


@dataclass(frozen=True)
class SpanNearQ:
    """spans/SpanNearQuery.java — clause spans within ``slop`` total
    intervening positions, in order or any order. slop maps to the
    interval algebra's max_gaps (NearSpansOrdered width accounting)."""

    clauses: tuple
    slop: int = 0
    in_order: bool = True
    boost: float = 1.0


@dataclass(frozen=True)
class SpanOrQ:
    """spans/SpanOrQuery.java — union of clause spans."""

    clauses: tuple
    boost: float = 1.0


@dataclass(frozen=True)
class SpanNotQ:
    """spans/SpanNotQuery.java — include spans not overlapping exclude
    spans (exclude expanded by pre/post positions)."""

    include: object
    exclude: object
    pre: int = 0
    post: int = 0
    boost: float = 1.0


@dataclass(frozen=True)
class SpanFirstQ:
    """spans/SpanFirstQuery.java — match spans ending within the first
    ``end`` positions of the field."""

    match: object
    end: int
    boost: float = 1.0


@dataclass(frozen=True)
class SpanPositionRangeQ:
    """spans/SpanPositionRangeQuery.java — match spans whose start
    position >= ``start`` and end position <= ``end``."""

    match: object
    start: int
    end: int
    boost: float = 1.0


@dataclass(frozen=True)
class SpanContainingQ:
    """spans/SpanContainingQuery.java — spans of big containing little."""

    big: object
    little: object
    boost: float = 1.0


@dataclass(frozen=True)
class SpanWithinQ:
    """spans/SpanWithinQuery.java — spans of little within big."""

    little: object
    big: object
    boost: float = 1.0


@dataclass(frozen=True)
class FieldMaskingSpanQ:
    """spans/FieldMaskingSpanQuery.java — wraps a span whose leaves live
    in another field and ADVERTISES it as ``field``, letting SpanNearQ /
    SpanOrQ combine positions across fields with aligned position
    streams (the classic use: the same text analyzed two ways). Matching
    evaluates the wrapped span against its REAL field's postings — the
    mask only relabels (FieldMaskingSpanQuery.java:62 'the matching is
    done by the underlying query'). Documented divergence: scoring uses
    the real field's term statistics and norms, where the reference
    mixes the masked field's collection stats with the real field's term
    stats (its javadoc calls that combination out as intentionally
    odd)."""

    span: object
    field: str | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class SpanPayloadCheckQ:
    """queries/payloads/SpanPayloadCheckQuery.java — keep only the
    spans whose ordered per-position payload sequence compares true,
    one-for-one and same length, against ``payloads``; docs score like
    the underlying span over the ACCEPTED spans only (sloppyFreq).
    ``op`` applies element-wise (MatchOperation EQ/GT/GTE/LT/LTE,
    reference semantics: payload OP reference-entry). A ``None`` entry
    accepts a missing payload (never the case on a payload-built
    index; kept for API parity). f32 payloads (this engine's payload
    type); positions inside each interval are collected in ascending
    position order (the reference's collector walks the match path)."""

    span: object
    payloads: tuple
    op: str = "eq"  # eq | gt | gte | lt | lte
    boost: float = 1.0


@dataclass(frozen=True)
class PayloadScoreQ:
    """queries/payloads/PayloadScoreQuery.java — scores docs by a
    PayloadFunction (min/max/avg/sum) over the payloads of matched span
    positions. ``span`` is any span-family node; requires an index built
    with payloads (analyzer {"payloads": "token_length" | ...}).
    include_span_score=False only (the common ES/Solr usage; the
    reference's span-score product is not reproduced). Documented
    divergence: payloads are collected from every leaf-term position
    INSIDE each matched interval (a repeated term co-occurring inside a
    span window contributes, where the reference walks the exact match
    path)."""

    span: object
    func: str = "max"  # min | max | avg | sum
    boost: float = 1.0


_SPAN_NODES = (
    SpanTermQ, SpanNearQ, SpanOrQ, SpanNotQ, SpanFirstQ,
    SpanPositionRangeQ, SpanContainingQ, SpanWithinQ, FieldMaskingSpanQ,
)


def span_source(q):
    """Lower a span node to its interval source (documented subsumption:
    the intervals module evaluates span semantics)."""
    if isinstance(q, SpanTermQ):
        return IntervalTerm(q.term, q.field)
    if isinstance(q, FieldMaskingSpanQ):
        # the mask only relabels the advertised field; leaves keep their
        # real field, which the interval evaluator reads per leaf
        return span_source(q.span)
    if isinstance(q, SpanNearQ):
        srcs = tuple(span_source(c) for c in q.clauses)
        cls = IntervalOrdered if q.in_order else IntervalUnordered
        return cls(srcs, max_gaps=q.slop)
    if isinstance(q, SpanOrQ):
        return IntervalOr(tuple(span_source(c) for c in q.clauses))
    if isinstance(q, SpanNotQ):
        return IntervalNotOverlapping(
            span_source(q.include), span_source(q.exclude), q.pre, q.post
        )
    if isinstance(q, SpanFirstQ):
        return IntervalFirst(span_source(q.match), q.end)
    if isinstance(q, SpanPositionRangeQ):
        return IntervalPositionRange(span_source(q.match), q.start, q.end)
    if isinstance(q, SpanContainingQ):
        return IntervalContaining(span_source(q.big), span_source(q.little))
    if isinstance(q, SpanWithinQ):
        return IntervalContainedBy(span_source(q.little), span_source(q.big))
    raise TypeError(f"not a span query: {q!r}")


@dataclass(frozen=True)
class FuzzyLikeThisQ:
    """sandbox/queries/FuzzyLikeThisQuery.java:63 — fuzzy MoreLikeThis:
    analyze ``query_text``, fuzzy-expand each distinct token (per-token
    top-50 variants by FuzzyTermsEnum boost), weight each variant by
    ``boost^2 * ClassicSimilarity.idf(df(source), numDocs)`` (source df
    falling back to the INTEGER-average df of all enumerated variants
    when the source term is absent, java:158-168), keep the global top
    ``max_num_terms`` variants by (score desc, term asc), and score the
    union as a SHOULD of boosted TermQueries whose TermStates are
    overridden to df=1/ttf=1 (java:176-189 newTermQuery) so the
    similarity idf inside each clause is neutral — the ranking signal is
    the precomputed variant weight times the tf/norm part.
    ``ignore_tf=True`` wraps each clause in ConstantScore instead
    (java:178): a doc scores the plain sum of its matched variants'
    weights."""

    query_text: str
    max_edits: int = 1
    prefix_len: int = 0
    max_num_terms: int = 25
    ignore_tf: bool = False
    boost: float = 1.0
    field: str | None = None
    MAX_VARIANTS_PER_TERM = 50  # java:70


@dataclass(frozen=True)
class CommonTermsQ:
    """queries/CommonTermsQuery.java — df-threshold plan rewrite: terms
    with df > max_df_ratio * docCount become SHOULD (optional, cheap to
    match), the rest become MUST. Rewrites to a BoolQ at plan time using
    term_stats; if every term is common, all become SHOULD."""

    terms: tuple
    max_df_ratio: float = 0.1
    boost: float = 1.0


@dataclass(frozen=True)
class FeatureQ:
    """document/FeatureField.java (~550) — static per-doc feature scored
    by a pulse function, combined additively with text scores via a
    SHOULD clause:
      fn='saturation': boost * feature / (feature + pivot)
      fn='log':        boost * ln(scale + feature)
      fn='sigmoid':    boost * f^a / (f^a + pivot^a), computed as
                       boost * (1 - pivot^a/(f^a + pivot^a)) like the
                       reference (FeatureField.java:440-452 rewrites it
                       so it never decreases with f under rounding)
    Matches every doc with a non-null feature (the reference matches
    docs that indexed the feature term)."""

    col: str
    fn: str = "saturation"  # or 'log' or 'sigmoid'
    pivot: float = 1.0      # saturation/sigmoid pivot / log scale
    boost: float = 1.0
    a: float = 1.0          # sigmoid exponent (SigmoidFunction.a)


@dataclass(frozen=True)
class DistanceFeatureQ:
    """document/LongDistanceFeatureQuery.java:44-120 (built by
    LongPoint.newDistanceFeatureQuery, LongPoint.java:180): a static
    per-doc proximity boost over a numeric doc-values column —
      score = boost * pivot / (pivot + |value - origin|)
    Matches every doc with a non-null value; the idiomatic use is a
    SHOULD clause beside a text query (recency boost). The reference
    requires pivotDistance > 0 (LongDistanceFeatureQuery.java:49-51)."""

    col: str
    origin: float
    pivot: float
    boost: float = 1.0

    def __post_init__(self):
        if not self.pivot > 0:
            raise ValueError(
                f"pivotDistance must be > 0, got {self.pivot}"
            )


@dataclass(frozen=True)
class GeoDistanceFeatureQ:
    """document/LatLonPointDistanceFeatureQuery.java:50-140 (built by
    LatLonPoint.newDistanceFeatureQuery, LatLonPoint.java:302):
    proximity boost by haversine meters from an origin point —
      score = boost * pivot_m / (pivot_m + distance_m)
    over two DOUBLE doc-values columns; matches docs with both
    coordinates present. pivotDistance > 0 as in the long variant."""

    lat_col: str
    lon_col: str
    lat: float
    lon: float
    pivot_m: float
    boost: float = 1.0

    def __post_init__(self):
        if not self.pivot_m > 0:
            raise ValueError(
                f"pivotDistance must be > 0, got {self.pivot_m}"
            )
        # GeoUtils.checkLatitude/checkLongitude — the reference rejects
        # out-of-range origins at construction
        # (LatLonPointDistanceFeatureQuery.java:56-57).
        if not (-90.0 <= self.lat <= 90.0):
            raise ValueError(
                f"invalid latitude {self.lat}; must be between -90.0 "
                f"and 90.0"
            )
        if not (-180.0 <= self.lon <= 180.0):
            raise ValueError(
                f"invalid longitude {self.lon}; must be between -180.0 "
                f"and 180.0"
            )


@dataclass(frozen=True)
class FieldFilter:
    """Keyword-column predicate (StringField analog, document/StringField.java:36):
    non-scoring filter over a docs-table column (lang, repo, path...)."""

    col: str
    op: str  # '=', 'in', 'between', 'notnull'
    value: object


def multi_range_q(col: str, ranges: tuple, boost: float = 1.0):
    """sandbox/search/MultiRangeQuery.java:47 — a disjunction of ranges
    over ONE numeric field, matched in a single pass. Spark-side the
    docs-table column scan IS the single pass: the OR of between
    predicates pushes to the parquet scan as one filter, so this is a
    constant-score SHOULD of FieldFilter ranges (MultiRangeQuery is
    constant-score by design)."""
    return ConstScoreQ(
        BoolQ(
            should=tuple(
                FieldFilter(col, "between", (lo, hi)) for lo, hi in ranges
            )
        ),
        boost,
    )


def doc_values_numbers_q(col: str, numbers: tuple):
    """sandbox/search/DocValuesNumbersQuery.java:38 — set membership on
    a numeric doc-values field. The docs-table column is the
    doc-values analog; the IN predicate pushes to the scan."""
    return FieldFilter(col, "in", tuple(numbers))


def doc_values_terms_q(col: str, terms: tuple):
    """sandbox/search/DocValuesTermsQuery.java:59 — set membership on a
    sorted doc-values field (keyword column)."""
    return FieldFilter(col, "in", tuple(terms))


@dataclass(frozen=True)
class GeoBoxQ:
    """LatLonPoint.newBoxQuery (document/LatLonPoint.java:238):
    inclusive lat/lon box over two DOUBLE doc-values columns;
    min_lon > max_lon crosses the dateline (2-range disjunction).
    Non-scoring filter, lowered to a pushdown-able predicate."""

    lat_col: str
    lon_col: str
    min_lat: float
    max_lat: float
    min_lon: float
    max_lon: float


@dataclass(frozen=True)
class GeoDistanceQ:
    """LatLonPoint.newDistanceQuery (document/LatLonPoint.java:262):
    haversine distance <= radius_m from (lat, lon), evaluated as the
    distance circle's bounding box (pushdown pre-filter) AND the exact
    SloppyMath.haversinMeters refine (see lucene_spark/geo.py)."""

    lat_col: str
    lon_col: str
    lat: float
    lon: float
    radius_m: float


@dataclass(frozen=True)
class ShapeQ:
    """document/LatLonShape.java:67 (createIndexableFields tessellates
    polygons/lines/points into BKD triangles) + LatLonShapeQuery.java
    (ShapeField.QueryRelation INTERSECTS/WITHIN/DISJOINT/CONTAINS):
    relate each doc's geometry — two array<double> vertex columns, an
    open ring for kind="polygon", a polyline for "line", one element
    for "point" — to a literal query polygon (with holes). Lowered to
    a pure Column predicate over the vertex arrays
    (geo_shape.shape_relation_predicate): bbox prune + crossing-number
    parity + proper edge-pair crossing, whole-stage codegen, no UDF."""

    lats_col: str
    lons_col: str
    polygon: tuple
    relation: str = "intersects"
    holes: tuple = ()
    kind: str = "polygon"

    def __post_init__(self):
        if self.relation not in (
            "intersects", "within", "disjoint", "contains"
        ):
            raise ValueError(f"unknown relation {self.relation!r}")
        if self.kind not in ("polygon", "line", "point"):
            raise ValueError(f"unknown shape kind {self.kind!r}")


def rewrite(q):
    """One-pass scoring-preserving normalization (BooleanQuery.java:236-312)."""
    if isinstance(q, BoolQ):
        must = tuple(rewrite(c) for c in q.must)
        should = tuple(rewrite(c) for c in q.should)
        must_not = tuple(rewrite(c) for c in q.must_not)
        filt = tuple(rewrite(c) for c in q.filter)
        # single MUST clause, nothing else -> unwrap
        if len(must) == 1 and not should and not must_not and not filt and q.boost == 1.0:
            return must[0]
        if len(should) == 1 and not must and not must_not and not filt and q.boost == 1.0 \
                and q.min_should_match <= 1:
            return should[0]
        return BoolQ(must, should, must_not, filt, q.min_should_match, q.boost)
    if isinstance(q, BoostQ):
        inner = rewrite(q.inner)
        if q.boost == 1.0:
            return inner
        return BoostQ(inner, q.boost)
    if isinstance(q, NGramPhraseQ):
        # NGramPhraseQuery.rewrite (NGramPhraseQuery.java:46-77)
        terms = tuple(q.terms)
        if q.n >= 2 and len(terms) >= 3:
            keep = [
                (t, i)
                for i, t in enumerate(terms)
                if i % q.n == 0 or i == len(terms) - 1
            ]
            return PhraseQ(
                tuple(t for t, _ in keep), 0, q.boost, q.field,
                positions=tuple(i for _, i in keep),
            )
        return PhraseQ(terms, 0, q.boost, q.field)
    if isinstance(q, _SPAN_NODES):
        # span family -> minimal-interval algebra (SpanWeight's
        # sloppyFreq scoring == IntervalQ's 1/(1+gaps) saturation)
        return IntervalQ(span_source(q), q.boost)
    return q
