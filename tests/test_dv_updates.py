"""Doc-values updates (IndexWriter.updateNumericDocValue /
updateBinaryDocValue, index/IndexWriter.java:1864,1900): in-place field
updates without re-indexing, merge-on-read generations, folded at
compaction — plus the reference's restrictions (existing fields only,
index-sort fields rejected).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_spark.corpus import make_corpus
from lucene_spark.index import Index, build_index, compact_index, update_doc_values
from lucene_spark.search import Searcher, TermQ

N_DOCS = 120


@pytest.fixture()
def built(spark, tmp_path):
    pdf = make_corpus(N_DOCS, seed=5)
    pdf["stars"] = np.arange(len(pdf), dtype=np.int64) % 17
    idx_dir = str(tmp_path / "idx")
    build_index(
        spark,
        spark.createDataFrame(pdf),
        idx_dir,
        text_col="content",
        order_cols=["repo", "path", "commit"],
        keep_cols=["lang", "stars"],
        num_buckets=4,
        salt_rows=64,
    )
    return idx_dir


def _stars(index, doc_ids):
    rows = (
        index.docs.filter(F.col("doc_id").isin(list(doc_ids)))
        .select("doc_id", "stars")
        .collect()
    )
    return {int(r["doc_id"]): r["stars"] for r in rows}


def test_update_and_reopen(spark, built):
    index = Index(spark, built)
    before = _stars(index, [0, 1, 2, 3])
    upd = spark.createDataFrame([(1, 999), (3, 777)], "doc_id long, value long")
    update_doc_values(spark, built, upd, "stars")
    # snapshot isolation: the open reader keeps its view
    assert _stars(index, [1, 3]) == {1: before[1], 3: before[3]}
    # a reopened Index sees the new generation
    idx2 = Index(spark, built)
    after = _stars(idx2, [0, 1, 2, 3])
    assert after == {0: before[0], 1: 999, 2: before[2], 3: 777}


def test_newest_generation_wins(spark, built):
    upd1 = spark.createDataFrame([(5, 100), (6, 100)], "doc_id long, value long")
    update_doc_values(spark, built, upd1, "stars")
    upd2 = spark.createDataFrame([(6, 200)], "doc_id long, value long")
    update_doc_values(spark, built, upd2, "stars")
    assert _stars(Index(spark, built), [5, 6]) == {5: 100, 6: 200}


def test_term_keyed_update(spark, built):
    """The reference API shape: update every doc matching a term."""
    index = Index(spark, built)
    s = Searcher(index)
    hit_ids = {int(r["doc_id"]) for r in s.doc_set(TermQ("saturate")).collect()}
    assert hit_ids
    upd = s.doc_set(TermQ("saturate")).withColumn("value", F.lit(4242))
    update_doc_values(spark, built, upd, "stars")
    after = _stars(Index(spark, built), list(hit_ids))
    assert set(after.values()) == {4242}


def test_compaction_folds_generations(spark, built):
    upd = spark.createDataFrame([(2, 555)], "doc_id long, value long")
    update_doc_values(spark, built, upd, "stars")
    compact_index(spark, built)
    idx = Index(spark, built)
    assert not idx.manifest["paths"].get("dv_updates")
    assert _stars(idx, [2]) == {2: 555}


def test_updates_flow_into_sorts_and_stats(spark, built):
    """Sorts / stats read through index.docs, so updates are visible to
    TopFieldCollector-style sorts without any extra plumbing."""
    from lucene_spark.search.dvstats import numeric_stats

    upd = spark.createDataFrame([(7, 10_000)], "doc_id long, value long")
    update_doc_values(spark, built, upd, "stars")
    idx = Index(spark, built)
    top = (
        idx.docs.orderBy(F.desc("stars"), F.asc("doc_id")).limit(1).collect()[0]
    )
    assert int(top["doc_id"]) == 7 and int(top["stars"]) == 10_000
    row = numeric_stats(
        idx.docs.select("doc_id"), idx.docs, "stars"
    ).collect()[0]
    assert row["max"] == 10_000


def test_reference_restrictions(spark, built):
    one = spark.createDataFrame([(0, 1)], "doc_id long, value long")
    with pytest.raises(ValueError, match="existing doc-values"):
        update_doc_values(spark, built, one, "nope_field")
    with pytest.raises(ValueError, match="index sort"):
        update_doc_values(spark, built, one, "repo")
    with pytest.raises(ValueError, match="not updatable"):
        update_doc_values(spark, built, one, "norm")
    dup = spark.createDataFrame(
        [(9, 1), (9, 2)], "doc_id long, value long"
    )
    with pytest.raises(ValueError, match="conflicting"):
        update_doc_values(spark, built, dup, "stars")


def test_checkindex_validates_generations(spark, built):
    """CheckIndex invariants 6-7: clean generations pass; a generation
    referencing unknown doc_ids is flagged."""
    import pyspark.sql.functions as _F

    from lucene_spark.index.check import CheckIndexError, check_index

    upd = spark.createDataFrame([(1, 5)], "doc_id long, value long")
    update_doc_values(spark, built, upd, "stars")
    rep = check_index(Index(spark, built))
    assert rep["dv_update_gens"] == [
        {"field": "stars", "dup_doc_ids": 0, "orphans": 0}
    ]
    # corrupt: append an orphan row to the generation file
    import json as _json
    import os as _os

    with open(_os.path.join(built, "manifest.json")) as f:
        gen_path = _os.path.join(
            built, _json.load(f)["paths"]["dv_updates"][0]["path"])
    spark.createDataFrame(
        [(10_000_000, 1)], "doc_id long, value long"
    ).write.mode("append").parquet(gen_path)
    with pytest.raises(CheckIndexError, match="unknown doc_ids"):
        check_index(Index(spark, built))


def test_overlay_is_broadcast(spark, built):
    """Scale property: the generation overlay joins as a broadcast —
    the big docs scan is never shuffled for an update."""
    upd = spark.createDataFrame([(4, 1)], "doc_id long, value long")
    update_doc_values(spark, built, upd, "stars")
    idx = Index(spark, built)
    plan = idx.docs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
