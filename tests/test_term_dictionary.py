"""The driver-side terms dictionary and the footer-pinned table schemas.

``Index.stats_for_terms`` reads ``term_stats`` with pyarrow on the
driver, pruned by row-group statistics, and every ``Index`` table is read
with the schema Spark wrote into its footers. Both must agree with Spark
itself: the stats with a ``groupBy`` over the table, the schemas with
what ``spark.read.parquet`` infers. Checked on every index shape the
builder produces.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from functools import reduce

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lucene_spark.corpus import make_corpus
from lucene_spark.index import (
    Index,
    append_to_index,
    build_index,
    build_term_vectors,
    compact_index,
    delete_docs,
    merge_adjacent_segments,
)

ORDER = ["repo", "path", "commit"]
ABSENT = ["zzabsentzz", "qqqq", ""]


def _build(spark, idx_dir: str, n: int = 200, head: bool = False) -> str:
    pdf = make_corpus(n, seed=5)
    extra = {}
    if head:
        pdf["head"] = pdf["content"].str.slice(0, 120)
        extra = {"head": "head"}
    build_index(spark, spark.createDataFrame(pdf), idx_dir, text_col="content",
                extra_fields=extra, order_cols=ORDER, num_buckets=4,
                salt_rows=64)
    return idx_dir


def _append(spark, idx_dir: str, seed: int) -> None:
    append_to_index(spark, spark.createDataFrame(make_corpus(60, seed=seed)),
                    idx_dir, order_cols=ORDER)


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("termdict")
    plain = _build(spark, str(root / "plain"))
    build_term_vectors(spark, plain)
    two = _build(spark, str(root / "two_segment"))
    _append(spark, two, 11)
    delete_docs(spark, two, spark.range(3, 6).withColumnRenamed("id", "doc_id"))
    comp = _build(spark, str(root / "compacted"))
    _append(spark, comp, 11)
    delete_docs(spark, comp, spark.range(3, 6).withColumnRenamed("id", "doc_id"))
    compact_index(spark, comp)
    tiered = _build(spark, str(root / "tiered"))
    _append(spark, tiered, 11)
    _append(spark, tiered, 12)
    merge_adjacent_segments(spark, tiered, 0, 2)
    mf = _build(spark, str(root / "multifield"), head=True)
    return {"plain": plain, "two_segment": two, "compacted": comp,
            "tiered": tiered, "multifield": mf}


SHAPES = ["plain", "two_segment", "compacted", "tiered", "multifield"]


def _spark_stats(index: Index) -> dict:
    """{(field, term): (df, ttf)} summed over segments by Spark."""
    rows = index.term_stats.groupBy("field", "term").agg(
        F.sum("df").alias("df"), F.sum("ttf").alias("ttf")
    ).collect()
    return {(r["field"], r["term"]): (int(r["df"]), int(r["ttf"])) for r in rows}


def _check_stats(spark, idx_dir: str, want: dict) -> None:
    """A fresh reader's lookups, one call per field with a sample of the
    field's terms plus absent ones, equal the Spark aggregate."""
    index = Index(spark, idx_dir)
    rng = np.random.default_rng(3)
    for fld in sorted({f for f, _t in want}):
        present = sorted(t for f, t in want if f == fld)
        sample = list(rng.choice(present, size=min(40, len(present)), replace=False))
        # a term of another field only is absent from this one
        others = sorted({t for f, t in want if f != fld} - set(present))[:3]
        got = index.stats_for_terms(sample + others + ABSENT, fld)
        assert got == {t: want[(fld, t)] for t in sample}, fld
        # memoized: a second lookup (absent terms included) agrees
        assert index.stats_for_terms(sample + ABSENT, fld) == got, fld


@pytest.mark.parametrize("shape", SHAPES)
def test_stats_equal_spark_aggregate(spark, indexes, shape):
    idx_dir = indexes[shape]
    want = _spark_stats(Index(spark, idx_dir))
    assert want
    _check_stats(spark, idx_dir, want)


def _inferred(spark, index: Index) -> dict:
    """Each Index table as ``spark.read.parquet`` infers it."""
    read = spark.read.parquet
    segs = [read(p) for p in index._postings_path]
    out = {
        "postings": reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), segs
        ),
        "docs": read(*index._docs_path),
        "term_stats": read(*index._stats_path),
        "corpus": read(*index._corpus_path),
    }
    if index.manifest["paths"].get("tvec"):
        out["term_vectors"] = read(index.manifest["paths"]["tvec"])
    if index.manifest["paths"].get("deletes"):
        out["deletes"] = read(*index.manifest["paths"]["deletes"]).select("doc_id")
    return out


@pytest.mark.parametrize("shape", SHAPES)
def test_pinned_schemas_equal_inferred(spark, indexes, shape):
    index = Index(spark, indexes[shape])
    inferred = _inferred(spark, index)
    assert {"postings", "docs", "term_stats", "corpus"} <= set(inferred)
    if shape == "plain":
        assert "term_vectors" in inferred
    if shape == "two_segment":
        assert "deletes" in inferred
    for name, df in inferred.items():
        assert getattr(index, name).schema == df.schema, name


def test_term_stats_written_sorted(indexes):
    """Every term_stats file the builder writes (build, append, compact,
    tiered merge) is in (field, bucket, term) order."""
    files = [
        f
        for d in indexes.values()
        for f in glob.glob(os.path.join(d, "term_stats*", "*.parquet"))
    ]
    assert len(files) >= 8
    for f in files:
        t = pq.read_table(f, columns=["field", "bucket", "term"])
        keys = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        assert keys == sorted(keys), f


def _rewrite_stats(idx_dir: str, order, row_group_size: int) -> str:
    """Rewrite the first term_stats file in the given row order and row
    group size, keeping its footer metadata (the Spark schema)."""
    with open(os.path.join(idx_dir, "manifest.json")) as f:
        p = json.load(f)["paths"]["term_stats"]
    seg = os.path.join(idx_dir, p if isinstance(p, str) else p[0])
    path = sorted(glob.glob(os.path.join(seg, "*.parquet")))[0]
    table = pq.read_table(path)
    meta = table.schema.metadata
    table = table.take(order(table.num_rows)).replace_schema_metadata(meta)
    pq.write_table(table, path, row_group_size=row_group_size)
    d, name = os.path.split(path)
    crc = os.path.join(d, f".{name}.crc")
    if os.path.exists(crc):  # the checksum of the old bytes fails a read
        os.remove(crc)
    return path


@pytest.mark.parametrize("layout", ["shuffled", "sorted_small_groups"])
def test_stats_independent_of_row_order(spark, indexes, tmp_path, layout):
    """A term_stats file in any row order (e.g. one written before the
    builder sorted it) gives the same stats; with small sorted row groups
    a lookup reads only the groups that span its terms."""
    idx_dir = str(tmp_path / "idx")
    shutil.copytree(indexes["two_segment"], idx_dir)
    with open(os.path.join(idx_dir, "manifest.json")) as f:
        m = f.read()
    with open(os.path.join(idx_dir, "manifest.json"), "w") as f:
        f.write(m.replace(indexes["two_segment"], idx_dir))
    want = _spark_stats(Index(spark, idx_dir))
    if layout == "shuffled":
        path = _rewrite_stats(idx_dir, np.random.default_rng(5).permutation, 50)
    else:
        path = _rewrite_stats(idx_dir, np.arange, 16)
    index = Index(spark, idx_dir)
    assert _spark_stats(index) == want
    _check_stats(spark, idx_dir, want)
    if layout == "sorted_small_groups":
        assert pq.read_metadata(path).num_row_groups > 10
        (rgs,) = [r for f, r in index._stats_row_groups("content", ["license"])
                  if f.path == path]
        # the group holding the term, and at most one neighbour whose
        # range straddles a bucket boundary
        assert 1 <= len(rgs) <= 2, rgs
