"""TieredMergePolicy analog (builder.maybe_merge /
merge_adjacent_segments): segment-count stays bounded under repeated
appends, with score identity before/after each merge and CheckIndex
invariants intact.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from lucene_spark.index import (
    Index,
    append_to_index,
    build_index,
    maybe_merge,
    merge_adjacent_segments,
)
from lucene_spark.index.builder import _tiered_allowed_count
from lucene_spark.search import PhraseQ, Searcher, TermQ


def _mk_docs(spark, start, n):
    words = ["merge", "sort", "data", "line", "hash", "vector"]
    rows = []
    for i in range(start, start + n):
        body = " ".join(words[(i + j) % len(words)] for j in range(6))
        rows.append((i, f"data line {body}"))
    return spark.createDataFrame(rows, "doc_id long, content string")


def _n_segments(idx_dir):
    with open(os.path.join(idx_dir, "manifest.json")) as f:
        p = json.load(f)["paths"]["postings"]
    return 1 if isinstance(p, str) else len(p)


def _snapshot(spark, idx_dir):
    s = Searcher(Index(spark, idx_dir), scoring="double")
    rows = (
        s.scored(TermQ("merge"))
        .orderBy("doc_id")
        .collect()
    )
    ph = (
        s.scored(PhraseQ(("data", "line")))
        .orderBy("doc_id")
        .collect()
    )
    return (
        [(r.doc_id, round(r.score, 9)) for r in rows],
        [(r.doc_id, round(r.score, 9)) for r in ph],
    )


def test_allowed_count_budget():
    # 10 equal segments fit one tier at segsPerTier=10
    assert _tiered_allowed_count([100] * 10, 10, 10, 10) == 10
    # 11 equal segments exceed it (second tier admits the remainder)
    assert _tiered_allowed_count([100] * 11, 10, 10, 10) == 11
    # big + small: the big one occupies a higher tier
    assert _tiered_allowed_count([10_000] + [100] * 3, 3, 3, 50) > 3
    assert _tiered_allowed_count([], 10, 10, 10) == 0


def test_bounded_segments_under_appends(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("tieredidx"))
    build_index(
        spark, _mk_docs(spark, 0, 40), idx_dir, text_col="content",
        doc_id_col="doc_id", num_buckets=2, salt_rows=2048,
    )
    max_seen = 0
    for k in range(9):
        append_to_index(spark, _mk_docs(spark, 40 + 20 * k, 20), idx_dir)
        before = _snapshot(spark, idx_dir)
        out = maybe_merge(
            spark, idx_dir, segs_per_tier=3, max_merge_at_once=3,
            floor_docs=20,
        )
        after = _snapshot(spark, idx_dir)
        assert after == before  # merge is score- and match-invariant
        max_seen = max(max_seen, out["segments"])
        allowed = _tiered_allowed_count(out["sizes"], 3, 3, 20)
        assert out["segments"] <= allowed
    # 10 total segments appended; without the policy the count would hit
    # 10 — the tier budget kept it well below (exact bound depends on
    # the merged-segment sizes feeding back into the tier levels)
    assert max_seen <= 6

    # CheckIndex invariants survive tiered merges
    from lucene_spark.index.check import check_index

    report = check_index(Index(spark, idx_dir))
    assert report, report


def test_merge_slice_validation(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("tieredbad"))
    build_index(
        spark, _mk_docs(spark, 0, 10), idx_dir, text_col="content",
        doc_id_col="doc_id", num_buckets=2, salt_rows=2048,
    )
    with pytest.raises(ValueError):
        merge_adjacent_segments(spark, idx_dir, 0, 2)  # only 1 segment
    append_to_index(spark, _mk_docs(spark, 10, 10), idx_dir)
    with pytest.raises(ValueError):
        merge_adjacent_segments(spark, idx_dir, 1, 2)  # out of range
    with pytest.raises(ValueError):
        merge_adjacent_segments(spark, idx_dir, 0, 1)  # count < 2


def test_max_merged_docs_budget(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("tieredcap"))
    build_index(
        spark, _mk_docs(spark, 0, 30), idx_dir, text_col="content",
        doc_id_col="doc_id", num_buckets=2, salt_rows=2048,
    )
    for k in range(4):
        append_to_index(spark, _mk_docs(spark, 30 + 30 * k, 30), idx_dir)
    # cap below any pair total: nothing can merge, policy reports stall
    out = maybe_merge(
        spark, idx_dir, segs_per_tier=2, max_merge_at_once=3,
        floor_docs=10, max_merged_docs=40,
    )
    assert out.get("stalled") == "max_merged_docs"
    assert _n_segments(idx_dir) == 5
