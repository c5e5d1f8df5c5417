"""Replicator module analog — near-real-time index replication.

Reference: lucene/replicator/src/java/org/apache/lucene/replicator/
  Replicator.java:24-56   (publish / checkForUpdate / obtainFile /
      release contract)
  LocalReplicator.java    (in-process replicator, session expiry)
  IndexRevision.java      (a revision = one commit's file set)
  IndexReplicationHandler.java (copy files first, commit point LAST,
      then delete unreferenced old files)
  nrt/FileMetaData.java   (per-file identity for incremental copy)

This engine's commit point is ``manifest.json`` (written atomically via
temp + rename, the segments_N analog — index/builder.py:755), and its
"files" are immutable parquet part files under the stage directories
the manifest names. That makes replication natural:

- a **Revision** = the parsed manifest + the enumerated (relpath, size)
  file set of every stage directory it references;
- **replicate()** = copy missing/changed files into the replica layout,
  rewrite the manifest's absolute paths to the replica root, write the
  replica manifest LAST (atomic cutover: a reader of the replica either
  sees the old complete commit or the new complete commit), then delete
  replica files the new commit no longer references (ReplicaFileDeleter
  analog).

Incremental identity is (relpath, size): parquet part files are
immutable and uniquely named (UUID part names), so a same-named
same-sized file IS the same file — the nrt FileMetaData checksum exists
because Lucene file names (\\_N.cfs) recycle across commits; ours don't.

At scale this runs once per replica over an object store: the copy set
of an incremental publish is only the segments added/compacted since
the replica's last version, not the corpus.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from lucene_spark.index.commits import _map_paths, read_manifest, write_manifest


def _walk_files(root: str) -> dict[str, int]:
    """(relpath under ``root``) -> size, for every regular file."""
    out: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


class Revision:
    """IndexRevision analog: one commit's manifest + file set.

    ``version`` orders revisions like IndexRevision.getVersion (the
    commit generation): we use the manifest's mtime_ns + a tiebreak
    hash, which is monotonic for a given source directory because every
    commit rewrites manifest.json."""

    def __init__(self, index_dir: str):
        self.index_dir = os.path.abspath(index_dir)
        mf = os.path.join(self.index_dir, "manifest.json")
        self.manifest = read_manifest(self.index_dir)  # paths resolved
        self.version = f"{os.stat(mf).st_mtime_ns}"
        # file set: every stage dir the manifest references, keyed by
        # replica-layout relpath (relative to the index root)
        self.files: dict[str, tuple[str, int]] = {}
        tables: list[str] = []  # every table path, dv-update generations too
        _map_paths(self.manifest, tables.append)
        for p in map(os.path.abspath, tables):
            if os.path.commonpath([p, self.index_dir]) != self.index_dir:
                raise ValueError(
                    f"manifest path {p!r} escapes the index root "
                    f"{self.index_dir!r} — not replicable as a unit"
                )
            base = os.path.relpath(p, self.index_dir)
            for rel, size in _walk_files(p).items():
                self.files[os.path.join(base, rel)] = (
                    os.path.join(p, rel), size,
                )


def replicate(src_index_dir: str, dst_index_dir: str) -> dict:
    """IndexReplicationHandler analog: one-shot incremental sync of the
    committed revision of ``src_index_dir`` into ``dst_index_dir``.

    Order of operations (the reference's revisionReady contract):
    1. copy every missing/changed data file (to temp name + rename, so
       a concurrent replica reader never sees a torn file);
    2. write the rewritten manifest atomically LAST (commit cutover);
    3. delete replica data files the new commit doesn't reference.

    Returns {"copied": n, "skipped": n, "deleted": n, "version": v}.
    """
    rev = Revision(src_index_dir)
    dst_root = os.path.abspath(dst_index_dir)
    os.makedirs(dst_root, exist_ok=True)
    copied = skipped = 0
    for rel, (src_path, size) in rev.files.items():
        dst_path = os.path.join(dst_root, rel)
        if os.path.exists(dst_path) and os.path.getsize(dst_path) == size:
            skipped += 1
            continue
        os.makedirs(os.path.dirname(dst_path), exist_ok=True)
        tmp = f"{dst_path}.rep.{uuid.uuid4().hex[:8]}.tmp"
        shutil.copyfile(src_path, tmp)
        os.replace(tmp, dst_path)
        copied += 1
    # rewrite every absolute source-root prefix in the manifest to the
    # replica root (paths + any stage lineage echoes), then commit
    text = json.dumps(rev.manifest)
    text = text.replace(
        json.dumps(rev.index_dir)[1:-1], json.dumps(dst_root)[1:-1]
    )
    write_manifest(dst_root, json.loads(text))
    # ReplicaFileDeleter analog: drop data files not in the new commit
    deleted = 0
    keep = set(rev.files)
    for rel, _sz in list(_walk_files(dst_root).items()):
        if rel == "manifest.json" or rel.endswith(".tmp"):
            continue
        if rel not in keep:
            os.remove(os.path.join(dst_root, rel))
            deleted += 1
    return {
        "copied": copied, "skipped": skipped, "deleted": deleted,
        "version": rev.version,
    }


class SessionToken:
    """SessionToken.java analog: a pinned revision handed to a client."""

    def __init__(self, session_id: str, revision: Revision):
        self.id = session_id
        self.version = revision.version
        self.revision = revision
        self.touched = time.monotonic()


class LocalReplicator:
    """LocalReplicator.java analog: in-process publish/update protocol.

    - ``publish(index_dir)`` snapshots the current commit as a Revision
      (newer versions replace older unreferenced ones);
    - ``check_for_update(curr_version)`` -> SessionToken or None;
    - ``obtain_file(session_id, relpath)`` -> absolute source path of a
      pinned file (the transport is the caller's concern, matching the
      reference's InputStream seam);
    - ``release(session_id)`` frees the pin; sessions also expire after
      ``expiration_sec`` (SessionExpiredException analog raises
      KeyError from ``_session``)."""

    def __init__(self, expiration_sec: float = 300.0):
        self.expiration = float(expiration_sec)
        self._current: Revision | None = None
        self._sessions: dict[str, SessionToken] = {}
        self._closed = False

    def publish(self, index_dir: str) -> str:
        rev = Revision(index_dir)
        cur = self._current
        if cur is not None and rev.version < cur.version:
            raise ValueError(
                f"cannot publish older revision {rev.version} < "
                f"{cur.version} (Replicator.java:32 ordering contract)"
            )
        self._current = rev
        return rev.version

    def check_for_update(self, curr_version: str | None) -> SessionToken | None:
        self._expire()
        if self._current is None or self._current.version == curr_version:
            return None
        tok = SessionToken(uuid.uuid4().hex, self._current)
        self._sessions[tok.id] = tok
        return tok

    def obtain_file(self, session_id: str, relpath: str) -> str:
        tok = self._session(session_id)
        tok.touched = time.monotonic()
        src, _size = tok.revision.files[relpath]
        return src

    def release(self, session_id: str) -> None:
        self._sessions.pop(session_id, None)

    def _session(self, session_id: str) -> SessionToken:
        self._expire()
        tok = self._sessions.get(session_id)
        if tok is None:
            raise KeyError(
                f"session {session_id!r} expired or released "
                f"(SessionExpiredException analog)"
            )
        return tok

    def _expire(self) -> None:
        now = time.monotonic()
        for sid in [
            s for s, t in self._sessions.items()
            if now - t.touched > self.expiration
        ]:
            del self._sessions[sid]
