"""Postings written by an older build stay readable and mergeable.

Older builds wrote one more postings column, ``row_impacts``: the
competitive (freq, norm) pairs of a whole (term, salt) row. Nothing
reads it now, and a fresh build no longer writes it. An index that still
carries it must answer queries exactly like a fresh index, take appends,
merge and compact, and pass CheckIndex.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from lucene_spark.codec import competitive_impacts, decode_block
from lucene_spark.corpus import make_corpus
from lucene_spark.index import (
    Index,
    append_to_index,
    build_index,
    compact_index,
    merge_adjacent_segments,
)
from lucene_spark.index.builder import POSTINGS_SCHEMA
from lucene_spark.index.check import check_index
from lucene_spark.search import BoolQ, Searcher, TermQ

OLD_COLUMN = "row_impacts"
_SPARK_META = b"org.apache.spark.sql.parquet.row.metadata"
_OLD_FIELD = T.StructField(
    OLD_COLUMN,
    T.ArrayType(T.StructType([
        T.StructField("freq", T.IntegerType()),
        T.StructField("norm", T.IntegerType()),
    ])),
)

QUERIES = {
    "or": BoolQ(should=(TermQ("import"), TermQ("return"))),
    "and": BoolQ(must=(TermQ("import"), TermQ("return"))),
    "must_not": BoolQ(must=(TermQ("license"),), must_not=(TermQ("the"),)),
    "msm": BoolQ(should=(TermQ("license"), TermQ("file"), TermQ("the")),
                 min_should_match=2),
}


def _postings_files(idx_dir: str) -> list[str]:
    with open(os.path.join(idx_dir, "manifest.json")) as f:
        p = json.load(f)["paths"]["postings"]
    seg = os.path.join(idx_dir, p if isinstance(p, str) else p[0])
    return sorted(glob.glob(os.path.join(seg, "*.parquet")))


def _add_old_column(path: str) -> None:
    """Rewrite a postings parquet file as an older build wrote it:
    the same rows plus ``row_impacts``, also in the Spark schema kept in
    the file footer."""
    table = pq.read_table(path)
    impacts = []
    for blocks in table.column("blocks").to_pylist():
        f = np.concatenate([decode_block(b)[1] for b in blocks])
        nm = np.concatenate([decode_block(b)[2] for b in blocks])
        impacts.append([{"freq": int(a), "norm": int(b)}
                        for a, b in competitive_impacts(f, nm)])
    typ = pa.list_(pa.struct([("freq", pa.int32()), ("norm", pa.int32())]))
    table = table.append_column(OLD_COLUMN, pa.array(impacts, type=typ))
    meta = dict(table.schema.metadata or {})
    spark_schema = json.loads(meta[_SPARK_META])
    spark_schema["fields"].append(_OLD_FIELD.jsonValue())
    meta[_SPARK_META] = json.dumps(spark_schema).encode()
    pq.write_table(table.replace_schema_metadata(meta), path)
    # the Hadoop checksum of the old bytes would fail the read
    d, name = os.path.split(path)
    os.remove(os.path.join(d, f".{name}.crc"))


def _hits(s: Searcher, q) -> list:
    return [(int(r["doc_id"]), np.float32(r["score"]).view(np.uint32))
            for r in s.top_k(q, 10).collect()]


def _build(spark, idx_dir: str, old: bool) -> str:
    build_index(
        spark, spark.createDataFrame(make_corpus(200, seed=5)), idx_dir,
        text_col="content", order_cols=["repo", "path", "commit"],
        num_buckets=4, salt_rows=64,
    )
    if old:
        for path in _postings_files(idx_dir):
            _add_old_column(path)
    return idx_dir


@pytest.fixture(scope="module")
def fresh(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("compat_fresh")), False)


@pytest.fixture(scope="module")
def old(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("compat_old")), True)


def test_fresh_build_writes_no_old_column(spark, fresh):
    assert OLD_COLUMN not in POSTINGS_SCHEMA.fieldNames()
    for path in _postings_files(fresh):
        assert OLD_COLUMN not in pq.read_schema(path).names, path
    assert OLD_COLUMN not in Index(spark, fresh).postings.columns


def test_old_index_answers_like_fresh(spark, fresh, old):
    assert OLD_COLUMN in Index(spark, old).postings.columns
    s_fresh, s_old = Searcher(Index(spark, fresh)), Searcher(Index(spark, old))
    for name, q in QUERIES.items():
        want = _hits(s_fresh, q)
        assert want, name
        assert _hits(s_old, q) == want, name


@pytest.mark.parametrize("op", ["merge", "compact"])
def test_old_index_appends_and_merges(spark, tmp_path, op):
    """An appended old index merges (TieredMergePolicy's adjacent merge,
    or compact_index's forceMerge(1)) into one segment that passes
    CheckIndex and answers as before the merge."""
    idx_dir = _build(spark, str(tmp_path / "old"), True)
    append_to_index(
        spark, spark.createDataFrame(make_corpus(60, seed=11)), idx_dir,
        order_cols=["repo", "path", "commit"],
    )
    want = {n: _hits(Searcher(Index(spark, idx_dir)), q)
            for n, q in QUERIES.items()}
    if op == "merge":
        merge_adjacent_segments(spark, idx_dir, 0, 2)
    else:
        compact_index(spark, idx_dir)
    merged = Index(spark, idx_dir)
    assert len(merged._postings_path) == 1
    assert OLD_COLUMN not in merged.postings.columns
    assert check_index(merged)
    assert {n: _hits(Searcher(merged), q) for n, q in QUERIES.items()} == want
