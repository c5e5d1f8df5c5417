"""_check_doc_ids: the docID-density invariant proven from parquet
footer statistics (zero Spark jobs). Dense disjoint row-group spans
over [0, N) pass; overlapping / gapped layouts fail loudly; files
without doc_id stats fall back to the Spark aggregate."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lucene_spark.index.builder import _check_doc_ids


def _write(dirpath: str, name: str, ids: list[int], row_group_size: int = 1000):
    tbl = pa.Table.from_pandas(
        pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64), "v": 0}),
        preserve_index=False,
    )
    pq.write_table(tbl, os.path.join(dirpath, name), row_group_size=row_group_size)


def test_footer_check_dense_ok(spark, tmp_path):
    d = str(tmp_path / "ok")
    os.makedirs(d)
    _write(d, "a.parquet", list(range(0, 700)), row_group_size=256)
    _write(d, "b.parquet", list(range(700, 1500)), row_group_size=512)
    assert _check_doc_ids(spark, d) == 1500


def test_footer_check_from_base(spark, tmp_path):
    # an appended segment's ids continue the index at its max_doc
    d = str(tmp_path / "seg")
    os.makedirs(d)
    _write(d, "a.parquet", list(range(500, 700)))
    _write(d, "b.parquet", list(range(700, 800)))
    assert _check_doc_ids(spark, d, base=500) == 300
    for base in (0, 501):
        with pytest.raises(ValueError, match="docID assignment violated"):
            _check_doc_ids(spark, d, base=base)


def test_footer_check_catches_overlap(spark, tmp_path):
    d = str(tmp_path / "overlap")
    os.makedirs(d)
    # files' spans overlap at id 699 — a layout mismatch between the
    # offset count job and the write would look exactly like this
    _write(d, "a.parquet", list(range(0, 700)))
    _write(d, "b.parquet", list(range(699, 1400)))
    with pytest.raises(ValueError, match="docID assignment violated"):
        _check_doc_ids(spark, d)


def test_footer_check_catches_gap(spark, tmp_path):
    d = str(tmp_path / "gap")
    os.makedirs(d)
    _write(d, "a.parquet", list(range(0, 500)))
    _write(d, "b.parquet", list(range(600, 1000)))
    with pytest.raises(ValueError, match="docID assignment violated"):
        _check_doc_ids(spark, d)


def test_footer_check_catches_intra_group_dup(spark, tmp_path):
    d = str(tmp_path / "dup")
    os.makedirs(d)
    # duplicate inside one row group: span 0..3 but 4 rows of [0,1,1,3]
    # still has rows == span; the NEXT group's chain then breaks because
    # total coverage can't reach N... make it the classic fan-out shape:
    # [0, 1, 1, 2] -> span 0..2, rows 4 != 3 -> caught per row group
    _write(d, "a.parquet", [0, 1, 1, 2])
    with pytest.raises(ValueError, match="docID assignment violated"):
        _check_doc_ids(spark, d)


def test_fallback_without_docid_column(spark, tmp_path):
    d = str(tmp_path / "nodid")
    os.makedirs(d)
    tbl = pa.Table.from_pandas(
        pd.DataFrame({"other": [1, 2, 3]}), preserve_index=False
    )
    pq.write_table(tbl, os.path.join(d, "a.parquet"))
    # falls back to the Spark aggregate, which raises on the schema miss
    with pytest.raises(Exception):
        _check_doc_ids(spark, d)
