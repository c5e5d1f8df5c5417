"""Commit points, snapshots, rollback and commit-aware GC.

Lucene analogs (semantics, not structure — reimplemented for a
parquet/manifest index):

- ``IndexWriter.commit()`` writes ``segments_N``, a new immutable
  commit point (index/SegmentInfos.java:113, index/IndexWriter.java
  commit path); with ``setLiveCommitData`` the commit carries user data
  readable back via ``IndexCommit.getUserData``.
- ``DirectoryReader.listCommits(dir)`` enumerates surviving commit
  points and ``DirectoryReader.open(IndexCommit)`` opens a PAST
  point-in-time view (index/DirectoryReader.java:81,130).
- ``IndexDeletionPolicy``: ``KeepOnlyLastCommitDeletionPolicy`` drops
  every commit but the newest; ``SnapshotDeletionPolicy.snapshot()``
  ref-counts a commit against deletion until ``release()``
  (index/SnapshotDeletionPolicy.java:57, KeepOnlyLastCommitDeletionPolicy.java).
- ``IndexWriter.rollback()`` discards all changes since the last
  commit (index/IndexWriter.java rollback path).
- ``IndexFileDeleter`` removes index files no surviving commit
  references (index/IndexFileDeleter.java:66).

Spark-first shape: every data table (postings, docs, term_stats,
corpus, deletes segments, docvalues-update generations, appended
segments, compaction generations) is an IMMUTABLE parquet directory;
``manifest.json`` is the only mutable object and is swapped atomically.
So a commit point is ONE tiny JSON file — ``commits/segments_<gen>.json``
holding the manifest as of that commit. Commits share the immutable
parquet underneath (the same trick Iceberg snapshots / Delta commit
logs use), so retaining K commits costs O(K · manifest bytes), never a
data copy, and opening an old commit is free time travel. ``purge``
deletes commit files outside the retention set and garbage-collects
data directories no retained commit (nor the live manifest) references.

All functions here are driver-side metadata operations — no Spark jobs,
no data scans — safe to run on a live index at any scale.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

COMMITS_DIR = "commits"
SNAPSHOTS_FILE = "snapshots.json"
# manifest keys that identify the commit itself rather than index
# content; ignored when deciding whether anything changed since the
# last commit (IndexWriter.commit is a no-op without pending changes)
_COMMIT_META_KEYS = ("gen", "user_data")


def _commits_dir(index_dir: str) -> str:
    return os.path.join(index_dir, COMMITS_DIR)


def _commit_file(index_dir: str, gen: int) -> str:
    return os.path.join(_commits_dir(index_dir), f"segments_{gen}.json")


def _atomic_write(path: str, obj) -> None:
    # a unique temp name, so concurrent writers of one file (a local
    # commit racing a replicate) never write into each other's temp file
    tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2)
    os.replace(tmp, path)


def _read_json(path: str):
    with open(path) as f:
        return json.load(f)


def _map_paths(manifest: dict, fn) -> dict:
    """A copy of ``manifest`` with ``fn`` applied to every table path in
    ``paths``: a str, a list of str, or a list of dicts with a ``path``
    key (docvalues-update generations)."""

    def walk(v):
        if isinstance(v, str):
            return fn(v)
        if isinstance(v, list):
            return [walk(x) for x in v]
        if isinstance(v, dict):
            return {k: walk(x) if k == "path" else x for k, x in v.items()}
        return v

    out = dict(manifest)
    if "paths" in manifest:
        out["paths"] = {k: walk(v) for k, v in manifest["paths"].items()}
    return out


def resolve_paths(manifest: dict, index_dir: str) -> dict:
    """Table paths as the code uses them: manifests store them relative
    to the index directory, so a copied or moved index opens its own
    files. A path written absolute (older manifests) stays as it is."""
    return _map_paths(manifest, lambda p: os.path.join(index_dir, p))


def read_manifest(index_dir: str, path: str | None = None) -> dict:
    """``manifest.json`` (or the commit file ``path``) with its table
    paths resolved against ``index_dir``."""
    return resolve_paths(
        _read_json(path or os.path.join(index_dir, "manifest.json")), index_dir
    )


def write_manifest(index_dir: str, manifest: dict) -> None:
    """Atomically write ``manifest`` to ``manifest.json``, each table
    path under ``index_dir`` stored relative to it. ``manifest`` holds
    paths as the code uses them: absolute, or relative to the working
    directory (a relative ``index_dir``)."""
    root = os.path.abspath(index_dir)

    def rel(p: str) -> str:
        a = os.path.abspath(p)
        return os.path.relpath(a, root) if a.startswith(root + os.sep) else p

    _atomic_write(os.path.join(index_dir, "manifest.json"),
                  _map_paths(manifest, rel))


def _gens(index_dir: str) -> list[int]:
    d = _commits_dir(index_dir)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("segments_") and name.endswith(".json"):
            try:
                out.append(int(name[len("segments_"):-len(".json")]))
            except ValueError:
                continue
    return sorted(out)


def _content(manifest: dict) -> dict:
    """Manifest minus commit-identity keys, for changed-since checks."""
    return {k: v for k, v in manifest.items() if k not in _COMMIT_META_KEYS}


def commit_point(index_dir: str, user_data: dict | None = None,
                 force: bool = False) -> int:
    """Record the current manifest as an immutable commit point.

    Returns the commit generation. Like ``IndexWriter.commit()`` with no
    pending changes, this is a no-op (returns the existing latest gen)
    when the manifest content is identical to the newest commit point —
    unless ``force`` or new ``user_data`` is supplied
    (setLiveCommitData alone makes a commit non-empty in the reference).
    """
    mf = os.path.join(index_dir, "manifest.json")
    manifest = _read_json(mf)
    gens = _gens(index_dir)
    if gens and not force and user_data is None:
        latest = _read_json(_commit_file(index_dir, gens[-1]))
        if _content(latest) == _content(manifest):
            return gens[-1]
    gen = (gens[-1] + 1) if gens else 1
    manifest["gen"] = gen
    if user_data is not None:
        manifest["user_data"] = user_data
    else:
        manifest.pop("user_data", None)
    os.makedirs(_commits_dir(index_dir), exist_ok=True)
    _atomic_write(_commit_file(index_dir, gen), manifest)
    # stamp the live manifest with the same gen (segments_N counter)
    _atomic_write(mf, manifest)
    return gen


def list_commits(index_dir: str) -> list[dict]:
    """Surviving commit points, oldest first (DirectoryReader.listCommits).

    Each entry: ``{"gen", "user_data", "n", "version", "stages"}`` —
    enough to pick a generation for :func:`read_commit` /
    ``Index(..., commit=gen)`` without parsing full manifests.
    """
    out = []
    for gen in _gens(index_dir):
        m = _read_json(_commit_file(index_dir, gen))
        out.append({
            "gen": gen,
            "user_data": m.get("user_data"),
            "n": m.get("N"),
            "version": m.get("version", 0),
            "stages": sorted(m.get("stages", {})),
        })
    return out


def read_commit(index_dir: str, gen: int) -> dict:
    """The full manifest as of commit ``gen`` (IndexCommit analog)."""
    path = _commit_file(index_dir, gen)
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"no commit generation {gen} in {index_dir} "
            f"(surviving: {_gens(index_dir)})"
        )
    return read_manifest(index_dir, path)


def rollback(index_dir: str) -> dict:
    """Discard manifest changes since the newest commit point
    (IndexWriter.rollback): the live manifest is restored from
    ``segments_<latest>`` and returned. Data directories written by the
    discarded changes become unreferenced and are reclaimed by the next
    :func:`purge_commits` with ``gc_data=True``.
    """
    gens = _gens(index_dir)
    if not gens:
        raise FileNotFoundError(
            f"rollback: no commit points under {index_dir}"
        )
    manifest = _read_json(_commit_file(index_dir, gens[-1]))
    _atomic_write(os.path.join(index_dir, "manifest.json"), manifest)
    return resolve_paths(manifest, index_dir)


def _referenced_paths(manifest: dict, index_dir: str) -> set[str]:
    """Every data path a manifest (as stored) references, as absolute
    paths."""
    out: set[str] = set()
    _map_paths(manifest,
               lambda p: out.add(os.path.abspath(os.path.join(index_dir, p))))
    return out


class SnapshotDeletionPolicy:
    """Pin commit generations against purge (SnapshotDeletionPolicy.java:57).

    Ref-counted like the reference: snapshotting the same generation
    twice requires two releases. State lives in ``snapshots.json`` next
    to the manifest (PersistentSnapshotDeletionPolicy behavior — pins
    survive process restarts).
    """

    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self._file = os.path.join(index_dir, SNAPSHOTS_FILE)

    def _load(self) -> list[int]:
        if not os.path.exists(self._file):
            return []
        return list(_read_json(self._file))

    def snapshot(self, gen: int | None = None) -> int:
        """Pin ``gen`` (default: the newest commit). Returns the pinned
        generation — hand it to ``Index(..., commit=gen)`` or a backup
        job; the data it references survives purges until release."""
        gens = _gens(self.index_dir)
        if not gens:
            raise FileNotFoundError(
                f"snapshot: no commit points under {self.index_dir}"
            )
        if gen is None:
            gen = gens[-1]
        elif gen not in gens:
            raise FileNotFoundError(
                f"snapshot: no commit generation {gen} (surviving: {gens})"
            )
        pins = self._load()
        pins.append(gen)
        _atomic_write(self._file, pins)
        return gen

    def release(self, gen: int) -> None:
        pins = self._load()
        if gen not in pins:
            raise KeyError(f"release: generation {gen} is not snapshotted")
        pins.remove(gen)
        _atomic_write(self._file, pins)

    def get_snapshots(self) -> list[int]:
        """Distinct pinned generations (IndexCommits of getSnapshots)."""
        return sorted(set(self._load()))


def purge_commits(index_dir: str, keep_last: int = 1,
                  gc_data: bool = True) -> dict:
    """Apply the deletion policy: keep the newest ``keep_last`` commit
    points plus every snapshotted generation; delete the other commit
    files; optionally garbage-collect data directories that no retained
    commit (nor the live manifest) references.

    ``keep_last=1`` with no snapshots is KeepOnlyLastCommitDeletionPolicy;
    the GC pass is the IndexFileDeleter analog. Open readers on this
    machine keep working on deleted generations until their DataFrames
    are re-planned (the same caveat as Lucene readers holding deleted
    segment files open) — run GC when old readers are known closed, or
    snapshot the generations they use.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    gens = _gens(index_dir)
    pinned = set(SnapshotDeletionPolicy(index_dir).get_snapshots())
    retained = set(gens[-keep_last:]) | (pinned & set(gens))
    dropped = [g for g in gens if g not in retained]
    for g in dropped:
        os.remove(_commit_file(index_dir, g))

    removed_dirs: list[str] = []
    if gc_data:
        referenced: set[str] = set()
        for g in sorted(retained):
            referenced |= _referenced_paths(
                _read_json(_commit_file(index_dir, g)), index_dir)
        live = os.path.join(index_dir, "manifest.json")
        if os.path.exists(live):
            referenced |= _referenced_paths(_read_json(live), index_dir)
        for name in sorted(os.listdir(index_dir)):
            if name == COMMITS_DIR:
                continue
            full = os.path.abspath(os.path.join(index_dir, name))
            if not os.path.isdir(full):
                continue  # manifest.json / snapshots.json / stray files
            if full not in referenced:
                shutil.rmtree(full)
                removed_dirs.append(name)
    return {
        "retained": sorted(retained),
        "dropped": dropped,
        "gc_removed_dirs": removed_dirs,
    }
