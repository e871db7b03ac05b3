"""Filesystem seam for table I/O: local paths stay on the fast
open/rename path; URL schemes dispatch to a registered FileSystem so the
engine can target object stores (S3/GCS-style) without rename.

The engine's durability protocol has exactly three primitives:

* ``put_atomic(path, data)`` — publish a whole object atomically.
  Local: tmp file + ``os.replace`` (atomic on POSIX). Object stores:
  a single PUT is already atomic — no rename needed, which is exactly
  why the seam exists (S3 has no rename; emulating tmp+rename there
  would be copy+delete and non-atomic).
* ``open_read(path)`` — binary file-like for pyarrow readers.
* ``append_line(path, line)`` — the metrics log (``_log.jsonl``).
  Local: O_APPEND single write. Object stores don't append: the
  registered FS must emulate (the bundled fake uses read-modify-PUT,
  acceptable under the single-writer lock). The SNAPSHOT log never uses
  append on object stores: the engine writes per-entry objects
  ``_snapshots.d/<seq>.json`` via ``create_exclusive`` (conditional
  PUT) and merges them on read — see engine._snapshot_log_append.

Everything else (exists / list / remove / makedirs) is bookkeeping.

Register a scheme with :func:`register_filesystem`; ``get_fs`` picks the
implementation from the path. ``LocalFS`` handles plain paths and is the
behavior all prior rounds shipped — byte-identical layout, zero overhead
(no wrapper objects on the hot path: pyarrow still receives a plain path
so it can mmap / pread directly).

``MockObjectFS`` (scheme ``mock``) backs onto a local directory but goes
through the object-store protocol — whole-object PUTs, no rename, no
O_APPEND — so tests exercise the seam's semantics without a cloud
account.
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
        False when it already does. The writer-lock primitive: O_EXCL
        locally; object stores use a conditional PUT (If-None-Match)."""
        raise NotImplementedError

    def claim_stale(self, path: str) -> bool:
        """Atomically remove ``path`` so that of several racing callers
        EXACTLY ONE returns True (stale-lease takeover: the winner
        proceeds to create_exclusive; losers loop and find the winner's
        fresh lease). Locally: rename to a unique tombstone (only one
        rename of the same source succeeds) then unlink; object stores
        use a conditional delete (If-Match on the observed ETag)."""
        raise NotImplementedError


class LocalFS(FileSystem):
    """Plain paths: tmp+rename publishes, O_APPEND logs — POSIX-atomic
    on local/NFS/fuse mounts (the contract every prior round shipped)."""

    native_paths = True

    def open_read(self, path: str):
        return open(path, "rb")

    def put_atomic(self, path: str, data: bytes) -> int:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)
        return len(data)

    def append_line(self, path: str, line: str) -> None:
        with open(path, "a") as fh:
            fh.write(line)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path) if os.path.isdir(path) else []

    def remove(self, path: str) -> None:
        os.remove(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def getsize(self, path: str) -> int:
        return os.path.getsize(path)

    def create_exclusive(self, path: str, data: bytes) -> bool:
        # Publish the BODY atomically: write a private tmp file, then
        # link(2) it into place (EEXIST = lost the race). An O_EXCL
        # create followed by a write would expose a momentarily-EMPTY
        # lock file — a racing lease acquirer reading it would see no
        # timestamp and could steal a live writer's lease.
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.x-{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)
        return True

    def claim_stale(self, path: str) -> bool:
        tomb = f"{path}.tomb-{uuid.uuid4().hex[:8]}"
        try:
            os.rename(path, tomb)  # atomic: one renamer of this inode wins
        except FileNotFoundError:
            return False  # another claimer already took it
        os.remove(tomb)
        return True


class MockObjectFS(FileSystem):
    """Object-store semantics over a local backing directory, for tests:
    ``mock:///abs/dir/...`` maps to ``/abs/dir/...`` but every write is a
    whole-object atomic PUT (no rename visible to the protocol, no
    appends — ``append_line`` is read-modify-PUT, safe only under the
    single-writer lock, mirroring what a naive S3 log impl would do)."""

    native_paths = False

    @staticmethod
    def _local(path: str) -> str:
        assert path.startswith("mock://"), path
        return path[len("mock://") :]

    def open_read(self, path: str):
        return open(self._local(path), "rb")

    def put_atomic(self, path: str, data: bytes) -> int:
        p = self._local(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        # simulate an atomic PUT: the object appears fully-written or not
        # at all (backed by rename INTERNALLY, invisible to the protocol)
        tmp = f"{p}.put-{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, p)
        return len(data)

    def append_line(self, path: str, line: str) -> None:
        p = self._local(path)
        old = b""
        if os.path.exists(p):
            with open(p, "rb") as fh:
                old = fh.read()
        self.put_atomic(path, old + line.encode())

    def exists(self, path: str) -> bool:
        return os.path.exists(self._local(path))

    def listdir(self, path: str) -> list[str]:
        p = self._local(path)
        return [
            n for n in (os.listdir(p) if os.path.isdir(p) else [])
            if ".put-" not in n and ".tomb-" not in n
        ]

    def remove(self, path: str) -> None:
        os.remove(self._local(path))

    def makedirs(self, path: str) -> None:
        os.makedirs(self._local(path), exist_ok=True)

    def getsize(self, path: str) -> int:
        return os.path.getsize(self._local(path))

    def create_exclusive(self, path: str, data: bytes) -> bool:
        # stands in for a conditional PUT (HTTP If-None-Match: *) — a
        # real conditional PUT publishes the whole body or nothing, so
        # the mock must too (tmp + link, not O_EXCL-then-write, or a
        # racing reader could observe an empty object)
        p = self._local(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.put-{uuid.uuid4().hex[:8]}"
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
        # stands in for a conditional delete (HTTP If-Match: <etag>)
        p = self._local(path)
        tomb = f"{p}.tomb-{uuid.uuid4().hex[:8]}"
        try:
            os.rename(p, tomb)
        except FileNotFoundError:
            return False
        os.remove(tomb)
        return True


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
