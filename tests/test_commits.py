"""Commit points, time travel, rollback, snapshots and commit-aware GC
(IndexWriter.commit / DirectoryReader.listCommits / open(IndexCommit) /
IndexWriter.rollback / SnapshotDeletionPolicy /
KeepOnlyLastCommitDeletionPolicy / IndexFileDeleter analogs — see
lucene_spark/index/commits.py for the file:line citations).
"""

import os

import pytest
from pyspark.sql import functions as F

from lucene_spark.corpus import make_corpus
from lucene_spark.index import (
    Index,
    SnapshotDeletionPolicy,
    build_index,
    commit_point,
    compact_index,
    delete_docs,
    list_commits,
    purge_commits,
    read_commit,
    rollback,
    update_doc_values,
)
from lucene_spark.index.builder import _update_manifest
from lucene_spark.search import Searcher, TermQ

N_DOCS = 120


@pytest.fixture()
def built(spark, tmp_path):
    pdf = make_corpus(N_DOCS, seed=9)
    pdf["stars"] = [i % 7 for i in range(len(pdf))]
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


def test_build_creates_commit_point(spark, built):
    commits = list_commits(built)
    assert [c["gen"] for c in commits] == [1]
    # make_corpus appends its mandated edge rows beyond N_DOCS
    assert commits[0]["n"] == Index(spark, built).N >= N_DOCS
    # the live manifest is stamped with the same gen
    assert Index(spark, built).manifest["gen"] == 1
    # commit content == live manifest content
    assert read_commit(built, 1)["paths"] == Index(spark, built).manifest["paths"]


def test_commit_noop_without_changes(spark, built):
    assert commit_point(built) == 1  # nothing changed since the build
    assert [c["gen"] for c in list_commits(built)] == [1]
    # force / user_data make an empty commit non-empty (setLiveCommitData)
    g = commit_point(built, user_data={"tag": "backup-1"})
    assert g == 2
    assert list_commits(built)[-1]["user_data"] == {"tag": "backup-1"}


def test_mutators_create_commits_and_time_travel(spark, built):
    stars5 = Index(spark, built).docs.filter("doc_id = 5").head()["stars"]
    dele = spark.createDataFrame([(0,), (1,), (2,)], "doc_id long")
    delete_docs(spark, built, dele)
    upd = spark.createDataFrame([(5, 999)], "doc_id long, value long")
    update_doc_values(spark, built, upd, "stars")
    gens = [c["gen"] for c in list_commits(built)]
    assert gens == [1, 2, 3]

    # current view: deletes + dv update applied
    cur = Index(spark, built)
    assert cur.deletes is not None and cur.deletes.count() == 3
    assert cur.docs.filter("doc_id = 5").select("stars").head()["stars"] == 999

    # time travel to the pre-delete commit: no deletes, original stars
    old = Index(spark, built, commit=1)
    assert old.deletes is None
    assert old.docs.filter("doc_id = 5").head()["stars"] == stars5

    # mid commit: deletes visible, dv update not
    mid = Index(spark, built, commit=2)
    assert mid.deletes is not None and mid.deletes.count() == 3
    assert mid.docs.filter("doc_id = 5").head()["stars"] == stars5


def test_time_travel_search_masks_match_commit(spark, built):
    dele = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    delete_docs(spark, built, dele)
    hits_old = {
        r["doc_id"]
        for r in Searcher(Index(spark, built, commit=1))
        .doc_set(TermQ("the"))
        .collect()
    }
    hits_new = {
        r["doc_id"]
        for r in Searcher(Index(spark, built)).doc_set(TermQ("the")).collect()
    }
    assert hits_new == {d for d in hits_old if d >= 40}
    assert hits_old - hits_new  # the deleted range did match pre-delete


def test_rollback_restores_last_commit(spark, built):
    before = read_commit(built, 1)
    # an uncommitted manifest change (a mid-build stage write is the
    # real-world case; _update_manifest is exactly that code path)
    _update_manifest(built, "bogus_stage", {"rows": 1}, {"N": 1})
    assert Index(spark, built).N == 1
    after = rollback(built)
    assert after["N"] == before["N"] > 1
    assert "bogus_stage" not in after["stages"]
    assert after == before


def test_rollback_requires_a_commit(tmp_path):
    with pytest.raises(FileNotFoundError):
        rollback(str(tmp_path))


def test_snapshot_refcount(spark, built):
    commit_point(built, user_data={"k": 1})  # gen 2
    pol = SnapshotDeletionPolicy(built)
    assert pol.snapshot() == 2  # defaults to newest
    assert pol.snapshot(2) == 2  # second pin on the same gen
    pol.release(2)
    assert pol.get_snapshots() == [2]  # still pinned once
    pol.release(2)
    assert pol.get_snapshots() == []
    with pytest.raises(KeyError):
        pol.release(2)
    with pytest.raises(FileNotFoundError):
        pol.snapshot(99)


def test_purge_keeps_snapshots_and_gcs_unreferenced_dirs(spark, built):
    n = Index(spark, built).N
    dele = spark.createDataFrame([(0,), (1,)], "doc_id long")
    delete_docs(spark, built, dele)          # gen 2
    compact_index(spark, built)              # gen 3: fresh *_compact1 dirs
    assert [c["gen"] for c in list_commits(built)] == [1, 2, 3]

    # snapshot protects gen 1's data through the purge
    SnapshotDeletionPolicy(built).snapshot(1)
    rep = purge_commits(built, keep_last=1)
    assert rep["retained"] == [1, 3] and rep["dropped"] == [2]
    # gen 1 still opens: its postings/docs dirs survived the GC
    assert Index(spark, built, commit=1).docs.count() == n
    assert Index(spark, built).docs.count() == n - 2

    # release the pin: the next purge reclaims the pre-compaction dirs
    SnapshotDeletionPolicy(built).release(1)
    rep = purge_commits(built, keep_last=1)
    assert rep["retained"] == [3] and rep["dropped"] == [1]
    assert "postings" in rep["gc_removed_dirs"]
    assert not os.path.exists(os.path.join(built, "postings"))
    assert os.path.exists(os.path.join(built, "postings_compact1"))
    # the current index is untouched by GC
    idx = Index(spark, built)
    assert idx.docs.count() == n - 2
    assert Searcher(idx).top_k(TermQ("the"), k=5).count() == 5
    with pytest.raises(FileNotFoundError):
        read_commit(built, 1)


def test_purge_never_drops_live_paths(spark, built):
    # even with every commit file gone but one, GC must keep everything
    # the LIVE manifest references (an uncommitted delete segment)
    dele = spark.createDataFrame([(3,)], "doc_id long")
    delete_docs(spark, built, dele)  # gen 2 references deletes_seg0
    rep = purge_commits(built, keep_last=1)
    assert rep["gc_removed_dirs"] == []
    assert Index(spark, built).deletes.count() == 1


def _hits(spark, idx_dir, q):
    return [(r["doc_id"], r["score"])
            for r in Searcher(Index(spark, idx_dir)).top_k(q, 10).collect()]


def test_copied_index_reads_its_own_files(spark, built, tmp_path):
    """Manifests store table paths relative to the index directory: a
    copy answers queries after the original is deleted, and an append to
    the copy writes into the copy."""
    import json
    import shutil

    dele = spark.createDataFrame([(3,)], "doc_id long")
    delete_docs(spark, built, dele)  # a deletes table and a second commit
    q = TermQ("import")
    want = _hits(spark, built, q)
    with open(os.path.join(built, "manifest.json")) as f:
        stored = json.load(f)["paths"]
    assert not os.path.isabs(stored["postings"]), stored
    assert not os.path.isabs(stored["deletes"][0]), stored
    copy = str(tmp_path / "copy")
    shutil.copytree(built, copy)
    shutil.rmtree(built)
    assert want and _hits(spark, copy, q) == want
    assert Index(spark, copy, commit=1).deletes is None
    from lucene_spark.index import append_to_index

    extra = make_corpus(8, seed=31).iloc[:8]
    extra["repo"] = "zz/copy"
    extra["stars"] = 1
    append_to_index(spark, spark.createDataFrame(extra), copy,
                    order_cols=["repo", "path", "commit"])
    idx = Index(spark, copy)
    assert idx.N == Index(spark, copy, commit=2).N + 8
    assert all(p.startswith(copy) for p in idx.manifest["paths"]["postings"])
    assert not os.path.exists(built)


def test_absolute_manifest_paths_still_open(spark, built):
    """A manifest written with absolute table paths (before paths were
    stored relative) opens and queries the same."""
    import json

    q = TermQ("import")
    want = _hits(spark, built, q)
    mf = os.path.join(built, "manifest.json")
    with open(mf) as f:
        m = json.load(f)
    m["paths"] = Index(spark, built).manifest["paths"]  # resolved, absolute
    assert os.path.isabs(m["paths"]["postings"])
    with open(mf, "w") as f:
        json.dump(m, f)
    assert _hits(spark, built, q) == want


def test_relative_index_dir(spark, tmp_path, monkeypatch):
    """A relative ``index_dir`` (resolved against the working directory,
    which the driver and the local JVM share) builds, reopens, appends,
    compacts and purges without nesting paths or collecting the tables
    of a retained commit."""
    import json

    from lucene_spark.index import append_to_index

    # the JVM resolves relative paths against the directory it started in
    monkeypatch.chdir(spark._jvm.java.lang.System.getProperty("user.dir"))
    idx_dir = os.path.relpath(str(tmp_path / "idx"))
    assert not os.path.isabs(idx_dir)
    pdf = make_corpus(40, seed=5)
    build_index(spark, spark.createDataFrame(pdf), idx_dir,
                text_col="content", order_cols=["repo", "path", "commit"],
                num_buckets=2)
    with open(os.path.join(idx_dir, "manifest.json")) as f:
        assert json.load(f)["paths"]["postings"] == "postings"
    q = TermQ("import")
    want = _hits(spark, idx_dir, q)
    assert want
    n = Index(spark, idx_dir).N
    extra = make_corpus(8, seed=31).iloc[:8]
    extra["repo"] = "zz/rel"
    append_to_index(spark, spark.createDataFrame(extra), idx_dir,
                    order_cols=["repo", "path", "commit"])
    idx = Index(spark, idx_dir)
    assert idx.N == n + 8
    for p in idx.manifest["paths"]["postings"]:
        assert os.path.isdir(p) and not os.path.isabs(p), p
    pinned = SnapshotDeletionPolicy(idx_dir).snapshot(1)
    compact_index(spark, idx_dir)
    rep = purge_commits(idx_dir, keep_last=1, gc_data=True)
    assert pinned in rep["retained"]
    # the pinned build-time tables are not live any more, yet survive
    assert _hits_at(spark, idx_dir, pinned, q) == want
    assert len(_hits(spark, idx_dir, q)) == 10


def _hits_at(spark, idx_dir, gen, q):
    idx = Index(spark, idx_dir, commit=gen)
    return [(r["doc_id"], r["score"])
            for r in Searcher(idx).top_k(q, 10).collect()]
