"""TermAutomatonQuery analog — proximity matching by a term automaton
(sandbox/search/TermAutomatonQuery.java:70, TermAutomatonScorer.java:231).

The reference lets a user build an NFA whose transitions are labeled
with terms (or ANY), determinizes it (TermAutomatonQuery.finish ->
Operations.determinize), and at search time intersects it with each
document's position graph: a token at position p transitions the
automaton from the state set at p to the state set at p+1; ANY arcs
advance across positions that hold no (or any) token; every
TERM-consuming step that lands in an accept state increments freq, and
matches may start (state 0) at every term occurrence
(TermAutomatonScorer.countMatches, lines 231-349).

Spark-side shape (executor._term_automaton_scored): one scan of the
automaton's alphabet and one grouped call per salt that intersects the
docIDs of the terms the DFA *requires* (every 0->accept path crosses
them), decodes positions only for the survivors and runs this module's
reference-exact matcher per surviving doc.

Fidelity notes mirrored deliberately from the reference scorer:

* freq increments ONLY on term-consuming steps into an accept state —
  an accept reached via an ANY arc does not count (no ``freq++`` in the
  any-advance block, TermAutomatonScorer.java:277-303 vs 317-341).
* matches are anchored at term occurrences: a path STARTS by stepping
  state 0 on a term (line 331 ``runAutomaton.step(0, sub.termID)``),
  never on ANY.
* ANY arcs advance only between the first and last term occurrence of
  the doc (the lazy lastPos->pos advance): trailing ANY arcs never
  complete a match.
* the per-position state list keeps DUPLICATES (PosState.add,
  lines 386-399, never dedupes) — two distinct states stepping into the
  same accept state count freq twice, and this matcher does the same.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass

#: symbol id used for ANY transitions in the determinized step table
ANY = -1


@dataclass(frozen=True)
class DFA:
    """Determinized term automaton: ``step[(state, sym)] -> state``
    (missing key = no arc), ``accepts`` = accepting DFA states,
    ``terms[sym]`` = the term labeling symbol ``sym``; state 0 is the
    image of the NFA initial state {0} (state 0 is always the initial
    state in the reference builder)."""

    step: dict
    accepts: frozenset
    terms: tuple
    has_any: bool


def determinize(n_states: int, transitions: tuple, accepts: tuple) -> DFA:
    """Subset-construction determinization over the symbol alphabet
    {terms...} + ANY — the analog of TermAutomatonQuery.finish()'s
    Operations.determinize call, where ANY is just another symbol
    (anyTermID) and term arcs never imply ANY arcs or vice versa."""
    arcs = defaultdict(set)  # (nfa_state, sym) -> {next}
    term_list = sorted({t for _f, _to, t in transitions if t is not None})
    sym_of = {t: i for i, t in enumerate(term_list)}
    has_any = False
    for f, to, t in transitions:
        if not (0 <= f < n_states and 0 <= to < n_states):
            raise ValueError(f"transition {(f, to, t)} out of range")
        if t is None:
            has_any = True
            arcs[(f, ANY)].add(to)
        else:
            arcs[(f, sym_of[t])].add(to)
    alphabet = list(range(len(term_list))) + ([ANY] if has_any else [])
    acc_nfa = frozenset(accepts)
    init = frozenset({0})
    ids = {init: 0}
    step = {}
    dacc = set()
    if init & acc_nfa:
        dacc.add(0)
    work = [init]
    while work:
        cur = work.pop()
        cid = ids[cur]
        for sym in alphabet:
            nxt = frozenset(s for st in cur for s in arcs.get((st, sym), ()))
            if not nxt:
                continue
            nid = ids.get(nxt)
            if nid is None:
                nid = ids[nxt] = len(ids)
                if nxt & acc_nfa:
                    dacc.add(nid)
                work.append(nxt)
            step[(cid, sym)] = nid
    return DFA(step, frozenset(dacc), tuple(term_list), has_any)


def required_terms(dfa: DFA) -> list[str]:
    """Terms every 0->accept path must consume: term t is required iff
    deleting all t-arcs disconnects state 0 from every accept state.
    Used for the phase-1 docID conjunction (a doc lacking a required
    term cannot match — the TwoPhaseIterator approximation)."""
    by_state = defaultdict(list)  # state -> [(sym, next)]
    for (s, sym), ns in dfa.step.items():
        by_state[s].append((sym, ns))

    def reaches_accept_without(banned_sym: int) -> bool:
        seen = {0}
        stack = [0]
        while stack:
            s = stack.pop()
            if s in dfa.accepts:
                return True
            for sym, ns in by_state[s]:
                if sym != banned_sym and ns not in seen:
                    seen.add(ns)
                    stack.append(ns)
        return False

    return [
        t
        for i, t in enumerate(dfa.terms)
        if not reaches_accept_without(i)
    ]


def count_matches(events, dfa: DFA) -> int:
    """Reference-exact per-doc freq (TermAutomatonScorer.countMatches).

    ``events``: (position, sym) pairs sorted by position — one per
    occurrence of an alphabet term in the doc (sym = index into
    dfa.terms). Returns the number of term-consuming DFA steps that
    landed in an accept state, duplicates included."""
    step = dfa.step
    accepts = dfa.accepts
    freq = 0
    positions = defaultdict(list)  # pos -> [states...] (duplicates kept)
    last_pos = -1
    for pos, sym in events:
        # Maybe advance ANY matches across [last_pos, pos)
        # (TermAutomatonScorer.java:277-303). The petered-out break is
        # sound: states in the gap exist only as a contiguous cascade
        # from last_pos (no events lie strictly between).
        if last_pos != -1 and dfa.has_any:
            lp = last_pos
            start = lp
            while lp < pos:
                sts = positions.get(lp)
                if not sts and lp > start:
                    break
                if sts:
                    nxt = positions[lp + 1]
                    for s in sts:
                        ns = step.get((s, ANY))
                        if ns is not None:
                            nxt.append(ns)
                lp += 1
        # Match current token from the state set at pos
        sts = positions.get(pos)
        nxt = positions[pos + 1]
        if sts:
            for s in sts:
                ns = step.get((s, sym))
                if ns is not None:
                    nxt.append(ns)
                    if ns in accepts:
                        freq += 1
        # Also consider starting a new match at this position
        ns = step.get((0, sym))
        if ns is not None:
            nxt.append(ns)
            if ns in accepts:
                freq += 1
        last_pos = pos
    return freq
