"""Filesystem seam for table I/O: every table file the engine writes or
reads goes through a :class:`FileSystem`; URL schemes dispatch to a
registered implementation so the engine can target object stores
(S3/GCS-style) that have no rename.

The engine's durability protocol has exactly three primitives:

* ``put_atomic(path, data)`` — publish a whole object atomically.
  Local: tmp file + ``os.replace`` (atomic on POSIX). Object stores:
  a single PUT is already atomic — no rename needed, which is exactly
  why the seam exists (S3 has no rename; emulating tmp+rename there
  would be copy+delete and non-atomic).
* ``create_exclusive(path, data)`` — publish only if absent (the
  writer lease and the snapshot log's per-entry objects
  ``_snapshots.d/<seq>.json``; see engine._snapshot_log_append).
  Local: tmp file + ``link``. Object stores: a conditional PUT.
* ``append_line(path, line)`` — the metrics log (``_log.jsonl``) only.
  Local: O_APPEND single write. Object stores don't append: the
  registered FS must emulate (the bundled fake uses read-modify-PUT,
  acceptable under the single-writer lock).

Everything else (open_read / exists / list / remove / makedirs) is
bookkeeping.

Register a scheme with :func:`register_filesystem`; ``get_fs`` picks the
implementation from the path. ``LocalFS`` handles plain paths; its
``native_paths`` lets pyarrow read a plain path (mmap / pread) instead
of a file-like.

``MockObjectFS`` (scheme ``mock``) maps ``mock:///abs/dir`` onto a local
directory and differs from ``LocalFS`` only where object stores do: no
native paths for pyarrow, and no append — so tests exercise the
object-store protocol without a cloud account.
"""

from __future__ import annotations

import os
import uuid


class FileSystem:
    """Minimal interface the engine's table I/O needs."""

    #: True when pyarrow can be handed a plain path (mmap/pread); False
    #: routes reads through open_read file-likes.
    native_paths = False

    def open_read(self, path: str):
        raise NotImplementedError

    def put_atomic(self, path: str, data: bytes) -> int:
        raise NotImplementedError

    def append_line(self, path: str, line: str) -> None:
        raise NotImplementedError

    def read_bytes(self, path: str) -> bytes:
        with self.open_read(path) as fh:
            return fh.read()

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        """Names (not paths) of entries directly under ``path``; empty
        list when the directory does not exist."""
        raise NotImplementedError

    def remove(self, path: str) -> None:
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def getsize(self, path: str) -> int:
        raise NotImplementedError

    def create_exclusive(self, path: str, data: bytes) -> bool:
        """Create ``path`` with ``data`` only if it does not exist;
        False when it already does. The writer-lock and log-entry
        primitive: tmp+link locally; object stores use a conditional
        PUT (If-None-Match)."""
        raise NotImplementedError

    def claim_stale(self, path: str) -> bool:
        """Atomically remove ``path`` so that of several racing callers
        EXACTLY ONE returns True (stale-lease takeover: the winner
        proceeds to create_exclusive; losers loop and find the winner's
        fresh lease). Locally: rename to a unique tombstone (only one
        rename of the same source succeeds) then unlink; object stores
        use a conditional delete (If-Match on the observed ETag)."""
        raise NotImplementedError


# in-flight names (a PUT's or claim's private file): never listed, as an
# object store never lists a PUT before it completes
_TMP, _TOMB = ".tmp-", ".tomb-"


class LocalFS(FileSystem):
    """Plain paths: tmp+rename publishes, tmp+link creates exclusively,
    O_APPEND appends — POSIX-atomic on local/NFS/fuse mounts."""

    native_paths = True

    def _local(self, path: str) -> str:
        """The backing local path of ``path``."""
        return path

    def open_read(self, path: str):
        return open(self._local(path), "rb")

    def put_atomic(self, path: str, data: bytes) -> int:
        p = self._local(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}{_TMP}{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, p)
        return len(data)

    def append_line(self, path: str, line: str) -> None:
        with open(self._local(path), "a") as fh:
            fh.write(line)

    def exists(self, path: str) -> bool:
        return os.path.exists(self._local(path))

    def listdir(self, path: str) -> list[str]:
        p = self._local(path)
        return [
            n for n in (os.listdir(p) if os.path.isdir(p) else [])
            if _TMP not in n and _TOMB not in n
        ]

    def remove(self, path: str) -> None:
        os.remove(self._local(path))

    def makedirs(self, path: str) -> None:
        os.makedirs(self._local(path), exist_ok=True)

    def getsize(self, path: str) -> int:
        return os.path.getsize(self._local(path))

    def create_exclusive(self, path: str, data: bytes) -> bool:
        # Publish the BODY atomically: write a private tmp file, then
        # link(2) it into place (EEXIST = lost the race). An O_EXCL
        # create followed by a write would expose a momentarily-EMPTY
        # file — a racing lease acquirer reading it would see no
        # timestamp and could steal a live writer's lease.
        p = self._local(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}{_TMP}{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        try:
            os.link(tmp, p)
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)
        return True

    def claim_stale(self, path: str) -> bool:
        p = self._local(path)
        tomb = f"{p}{_TOMB}{uuid.uuid4().hex[:8]}"
        try:
            os.rename(p, tomb)  # atomic: one renamer of this inode wins
        except FileNotFoundError:
            return False  # another claimer already took it
        os.remove(tomb)
        return True


class MockObjectFS(LocalFS):
    """Object-store semantics over a local backing directory, for tests:
    ``mock:///abs/dir/...`` maps to ``/abs/dir/...``; pyarrow gets
    file-likes, never paths, and ``append_line`` is read-modify-PUT
    (safe only under the single-writer lock, mirroring what a naive S3
    log impl would do). Its PUTs, conditional PUTs and conditional
    deletes are LocalFS's, whose renames and links the protocol never
    sees."""

    native_paths = False

    def _local(self, path: str) -> str:
        assert path.startswith("mock://"), path
        return path[len("mock://") :]

    def append_line(self, path: str, line: str) -> None:
        old = self.read_bytes(path) if self.exists(path) else b""
        self.put_atomic(path, old + line.encode())


_REGISTRY: dict[str, FileSystem] = {"mock": MockObjectFS()}
_LOCAL = LocalFS()


def register_filesystem(scheme: str, fs: FileSystem) -> None:
    """Make ``scheme://...`` paths usable as encode/decode targets."""
    _REGISTRY[scheme] = fs


def get_fs(path: str) -> FileSystem:
    """FileSystem for ``path``: plain paths -> LocalFS; ``scheme://`` ->
    the registered implementation (raises on unknown schemes, replacing
    the old blanket URL refusal)."""
    if "://" not in path:
        return _LOCAL
    scheme = path.split("://", 1)[0]
    fs = _REGISTRY.get(scheme)
    if fs is None:
        raise ValueError(
            f"no filesystem registered for scheme {scheme!r} "
            f"(register one with sparkcodec.fs.register_filesystem)"
        )
    return fs


def join(base: str, *parts: str) -> str:
    """Path join that preserves URL schemes (os.path.join would eat
    double slashes on some platforms)."""
    if "://" in base:
        out = base.rstrip("/")
        for p in parts:
            out = f"{out}/{p}"
        return out
    return os.path.join(base, *parts)
