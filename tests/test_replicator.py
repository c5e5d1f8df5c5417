"""Replicator module analog (lucene_spark/replicator.py) — incremental
file sync with atomic manifest cutover, and the LocalReplicator
publish/checkForUpdate/obtainFile/release protocol."""

from __future__ import annotations

import os

import numpy as np
import pytest

from lucene_spark.corpus import make_corpus
from lucene_spark.index import Index, build_index, update_doc_values
from lucene_spark.index.builder import delete_docs
from lucene_spark.replicator import LocalReplicator, Revision, replicate
from lucene_spark.search import Searcher, TermQ


@pytest.fixture(scope="module")
def src_idx(spark, tmp_path_factory):
    pdf = make_corpus(100, seed=23)
    idx_dir = str(tmp_path_factory.mktemp("rep_src"))
    build_index(
        spark, spark.createDataFrame(pdf), idx_dir,
        text_col="content", num_buckets=4, salt_rows=64,
    )
    return idx_dir


def _hits(spark, idx_dir, term="merge"):
    s = Searcher(Index(spark, idx_dir))
    return sorted(
        (int(r["doc_id"]), round(float(r["score"]), 5))
        for r in s.scored(TermQ(term)).collect()
    )


def test_replicate_and_search(spark, src_idx, tmp_path):
    dst = str(tmp_path / "replica")
    stats = replicate(src_idx, dst)
    assert stats["copied"] > 0 and stats["deleted"] == 0
    assert _hits(spark, dst) == _hits(spark, src_idx)
    # replica manifest points inside the replica, not the source
    idx = Index(spark, dst)
    for p in idx.manifest["paths"].values():
        ps = p if isinstance(p, list) else [p]
        for q in ps:
            assert os.path.abspath(q).startswith(os.path.abspath(dst))


def test_replicate_is_incremental(src_idx, tmp_path):
    dst = str(tmp_path / "replica2")
    first = replicate(src_idx, dst)
    again = replicate(src_idx, dst)
    assert again["copied"] == 0
    assert again["skipped"] == first["copied"] + first["skipped"]


def test_replicate_repairs_torn_file(src_idx, tmp_path):
    dst = str(tmp_path / "replica3")
    replicate(src_idx, dst)
    rev = Revision(dst)
    rel = sorted(rev.files)[0]
    victim = os.path.join(dst, rel)
    with open(victim, "wb") as f:
        f.write(b"torn")
    fixed = replicate(src_idx, dst)
    assert fixed["copied"] == 1
    assert os.path.getsize(victim) > 4


def test_replicate_tracks_deletes(spark, src_idx, tmp_path):
    # copy the source (so the shared fixture stays pristine), delete
    # docs there, then re-replicate: the replica serves the new commit
    src2 = str(tmp_path / "src2")
    replicate(src_idx, src2)
    dst = str(tmp_path / "replica4")
    replicate(src2, dst)
    before = _hits(spark, dst)
    victims = [d for d, _ in before[:2]]
    delete_docs(spark, src2, spark.createDataFrame(
        [(int(v),) for v in victims], "doc_id long"))
    inc = replicate(src2, dst)
    assert inc["copied"] >= 1  # live-docs data, not a full re-copy
    after = _hits(spark, dst)
    assert {d for d, _ in after} == {d for d, _ in before} - set(victims)


def test_replicate_dv_updates(spark, tmp_path):
    """A docvalues-update generation is a {"field", "path"} manifest
    entry: the replica copies its table and reads the updated field."""
    pdf = make_corpus(45, seed=7)
    pdf["stars"] = np.arange(len(pdf), dtype=np.int64)
    src = str(tmp_path / "dv_src")
    build_index(spark, spark.createDataFrame(pdf), src, text_col="content",
                keep_cols=["stars"], num_buckets=4)
    update_doc_values(spark, src, spark.createDataFrame(
        [(2, 999)], "doc_id long, value long"), "stars")
    dst = str(tmp_path / "dv_replica")
    assert replicate(src, dst)["copied"] > 0
    idx = Index(spark, dst)
    dv = idx.manifest["paths"]["dv_updates"]
    assert len(dv) == 1 and dv[0]["path"].startswith(os.path.abspath(dst))
    stars = {int(r["doc_id"]): int(r["stars"])
             for r in idx.docs.select("doc_id", "stars").collect()}
    assert stars[2] == 999 and len(stars) == len(pdf)


def test_local_replicator_protocol(src_idx):
    rep = LocalReplicator()
    v1 = rep.publish(src_idx)
    # up-to-date client sees no update
    assert rep.check_for_update(v1) is None
    tok = rep.check_for_update(None)
    assert tok is not None and tok.version == v1
    rel = sorted(tok.revision.files)[0]
    p = rep.obtain_file(tok.id, rel)
    assert os.path.exists(p)
    rep.release(tok.id)
    with pytest.raises(KeyError):
        rep.obtain_file(tok.id, rel)


def test_local_replicator_session_expiry(src_idx):
    rep = LocalReplicator(expiration_sec=0.0)
    rep.publish(src_idx)
    tok = rep.check_for_update(None)
    import time

    time.sleep(0.01)
    with pytest.raises(KeyError):
        rep.obtain_file(tok.id, sorted(tok.revision.files)[0])
