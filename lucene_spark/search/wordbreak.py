"""WordBreakSpellChecker analog (suggest/spell/WordBreakSpellChecker.java:30).

Suggests splitting an unknown term into dictionary words
("databig" -> "data big") and combining adjacent query terms into one
dictionary word ("dat a" -> "data") — the other half of "did you mean"
next to the edit-distance DirectSpellChecker (search/spell.py).

Spark-first: the reference issues one ``IndexReader.docFreq`` per
candidate substring from a driver-side recursion. Here every candidate
substring the recursion COULD touch is enumerated up front (bounded:
splits of a ≤max_combine_word_length term at ≤max_changes depth), their
dfs fetched in ONE terms-dictionary lookup (``Index.stats_for_terms``,
a driver-side read pruned by row-group statistics), and the reference's
exact recursion then runs driver-side against the in-memory df map —
same results, one lookup instead of O(candidates) index round-trips.

Tie-break note: the reference drains a ``PriorityQueue`` whose order for
EQUAL keys is unspecified (heap order). This port refines ties
deterministically — breaks: (num_words asc, freq desc, first split
asc); combinations: (num_combined asc, freq desc, start index asc) —
a valid refinement of the reference contract, mirrored exactly by the
``spell_wordbreak`` gate's SQL oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

# SuggestMode (search/spell/SuggestMode.java)
SUGGEST_WHEN_NOT_IN_INDEX = "when_not_in_index"
SUGGEST_MORE_POPULAR = "more_popular"
SUGGEST_ALWAYS = "always"

# BreakSuggestionSortMethod (WordBreakSpellChecker.java:52)
NUM_CHANGES_THEN_MAX_FREQUENCY = "max_freq"
NUM_CHANGES_THEN_SUMMED_FREQUENCY = "sum_freq"


@dataclass(frozen=True)
class SuggestWord:
    """search/spell/SuggestWord.java: (string, freq, score); for breaks
    score = number of breaks applied (lower is better)."""

    string: str
    freq: int
    score: int


@dataclass(frozen=True)
class CombineSuggestion:
    """search/spell/CombineSuggestion.java: the combined word plus the
    indexes of the original terms it merged."""

    suggestion: SuggestWord
    original_term_indexes: tuple


SEPARATOR_TERM = ""  # WordBreakSpellChecker.SEPARATOR_TERM (empty text)


class WordBreakSpellChecker:
    """Mirrors WordBreakSpellChecker.java's knobs and algorithms."""

    def __init__(self, index, field: str | None = None, *,
                 min_suggestion_frequency: int = 1,
                 min_break_word_length: int = 1,
                 max_combine_word_length: int = 20,
                 max_changes: int = 1,
                 max_evaluations: int = 1000):
        self.index = index
        self.field = field
        self.min_suggestion_frequency = min_suggestion_frequency
        self.min_break_word_length = min_break_word_length
        self.max_combine_word_length = max_combine_word_length
        self.max_changes = max_changes
        self.max_evaluations = max_evaluations

    # ------------------------------------------------------------------
    def _df_map(self, candidates: set[str]) -> dict[str, int]:
        stats = self.index.stats_for_terms(sorted(candidates), self.field)
        return {t: (stats[t][0] if t in stats else 0) for t in candidates}

    def _break_candidates(self, term: str) -> set[str]:
        """Every substring the break recursion could docFreq: closure of
        (left, right) splits at >= min_break_word_length, recursing on
        the right part up to max_changes levels."""
        out: set[str] = set()
        mbl = max(1, self.min_break_word_length)
        frontier = {term}
        for _ in range(max(0, self.max_changes)):
            nxt: set[str] = set()
            for t in frontier:
                if len(t) < mbl * 2:
                    continue
                for i in range(mbl, len(t) - mbl + 1):
                    left, right = t[:i], t[i:]
                    out.add(left)
                    out.add(right)
                    nxt.add(right)
            frontier = nxt
        return out

    # -- suggestWordBreaks (WordBreakSpellChecker.java:71) -------------
    def suggest_word_breaks(
        self, term: str, max_suggestions: int,
        suggest_mode: str = SUGGEST_WHEN_NOT_IN_INDEX,
        sort_method: str = NUM_CHANGES_THEN_MAX_FREQUENCY,
    ) -> list[tuple[SuggestWord, ...]]:
        if max_suggestions < 1:
            return []
        cands = self._break_candidates(term)
        cands.add(term)
        dfs = self._df_map(cands)
        orig_freq = dfs.get(term, 0)
        if orig_freq > 0 and suggest_mode == SUGGEST_WHEN_NOT_IN_INDEX:
            return []
        min_freq = self.min_suggestion_frequency
        if suggest_mode == SUGGEST_MORE_POPULAR:
            min_freq = orig_freq if orig_freq else 1

        suggestions: list[tuple[int, tuple[SuggestWord, ...]]] = []

        def recurse(text: str, number_breaks: int,
                    prefix: tuple[SuggestWord, ...], first_split: int,
                    total_evaluations: int):
            """generateBreakUpSuggestions (WordBreakSpellChecker.java:238);
            returns THIS level's loop count — the reference passes
            totalEvaluations by value and adds only the direct child's
            return, a quirk kept verbatim."""
            mbl = max(1, self.min_break_word_length)
            if len(text) < mbl * 2:
                return 0
            this_time = 0
            for i in range(mbl, len(text) - mbl + 1):
                left, right = text[:i], text[i:]
                left_freq = dfs.get(left, 0)
                if left_freq >= min_freq:
                    right_freq = dfs.get(right, 0)
                    if right_freq >= min_freq:
                        score = len(prefix) + 1
                        words = tuple(
                            SuggestWord(p.string, p.freq, score) for p in prefix
                        ) + (
                            SuggestWord(left, left_freq, score),
                            SuggestWord(right, right_freq, score),
                        )
                        fs = first_split if prefix else i
                        suggestions.append((fs, words))
                    if number_breaks + 1 <= self.max_changes:
                        total_evaluations += recurse(
                            right, number_breaks + 1,
                            prefix + (SuggestWord(left, left_freq, 1),),
                            first_split if prefix else i,
                            total_evaluations,
                        )
                this_time += 1
                total_evaluations += 1
                if total_evaluations >= self.max_evaluations:
                    break
            return this_time

        recurse(term, 1, (), 0, 0)

        def key(item):
            fs, words = item
            freqs = [w.freq for w in words]
            agg = (max(freqs) if sort_method == NUM_CHANGES_THEN_MAX_FREQUENCY
                   else sum(freqs))
            return (len(words), -agg, fs)

        suggestions.sort(key=key)
        return [words for _, words in suggestions[:max_suggestions]]

    # -- suggestWordCombinations (WordBreakSpellChecker.java:145) ------
    def suggest_word_combinations(
        self, terms: list[str], max_suggestions: int,
        suggest_mode: str = SUGGEST_WHEN_NOT_IN_INDEX,
    ) -> list[CombineSuggestion]:
        if max_suggestions < 1:
            return []
        # candidates: every window concat within max_changes, plus the
        # originals (for origFreqs) — one stats lookup for all of them
        cands = {t for t in terms if t != SEPARATOR_TERM}
        for i in range(len(terms) - 1):
            if terms[i] == SEPARATOR_TERM:
                continue
            combined = terms[i]
            for j in range(i + 1, len(terms)):
                if terms[j] == SEPARATOR_TERM or j - i > self.max_changes:
                    break
                combined += terms[j]
                if len(combined) > self.max_combine_word_length:
                    break
                cands.add(combined)
        dfs = self._df_map(cands)
        orig_freqs = (None if suggest_mode == SUGGEST_ALWAYS
                      else [dfs.get(t, 0) for t in terms])

        out: list[tuple[int, CombineSuggestion]] = []
        evaluations = 0
        for i in range(len(terms) - 1):
            if terms[i] == SEPARATOR_TERM:
                continue
            left = terms[i]
            if len(left) > self.max_combine_word_length:
                continue
            max_freq = min_freq = orig_freqs[i] if orig_freqs else 0
            if orig_freqs is None:
                min_freq = float("inf")
            combined = left
            for j in range(i + 1, len(terms)):
                if j - i > self.max_changes or terms[j] == SEPARATOR_TERM:
                    break
                combined += terms[j]
                if len(combined) > self.max_combine_word_length:
                    break
                if orig_freqs is not None:
                    max_freq = max(max_freq, orig_freqs[j])
                    min_freq = min(min_freq, orig_freqs[j])
                freq = dfs.get(combined, 0)
                if (suggest_mode != SUGGEST_MORE_POPULAR or freq >= max_freq) \
                        and (suggest_mode != SUGGEST_WHEN_NOT_IN_INDEX
                             or min_freq == 0) \
                        and freq >= self.min_suggestion_frequency:
                    idxs = tuple(range(i, j + 1))
                    out.append((i, CombineSuggestion(
                        SuggestWord(combined, freq, len(idxs) - 1), idxs)))
                evaluations += 1
                if evaluations == self.max_evaluations:
                    break
            if evaluations == self.max_evaluations:
                break
        out.sort(key=lambda it: (
            len(it[1].original_term_indexes), -it[1].suggestion.freq, it[0]))
        return [cs for _, cs in out[:max_suggestions]]
