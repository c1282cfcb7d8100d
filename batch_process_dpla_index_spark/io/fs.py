"""Filesystem carrier interface for the raw-put sinks (K5-K9).

The reference talks to S3 directly from helper code
(S3FileHelper.scala:20-98: list/latest-prefix discovery, raw put,
gzip put, batched 1000-key delete); the DataFrame sinks go through
Hadoop committers and need no carrier. This module is the seam
between those raw-put semantics and the storage backend: products
call the K5-K9 functions in ``io.sinks``, which delegate to the
registered :class:`Filesystem` for the path's scheme (K7 scheme
dispatch). The local implementation ships here; an object-store
implementation (fsspec / boto3) plugs in via :func:`register_fs`
without touching any product code.

Contract notes mirrored from the reference:
- ``purge`` deletes in ≤``batch``-key batches and reports per-batch
  progress via the optional callback (S3FileHelper.scala:46-55 —
  the S3 DeleteObjects API cap; locally the batch is the unit of
  progress accounting that callers depend on).
- ``delete_prefix`` is the idempotent-overwrite primitive
  (JsonlDump.scala:72-74): remove whatever is at the path, return
  whether anything was removed.
- ``latest_prefix`` implements S4 catalog discovery: the
  lexicographically-greatest child directory (dated folders sort
  correctly — S3FileHelper.scala:27 ``.sorted.lastOption``).
"""

from __future__ import annotations

import glob as _glob
import gzip as _gzip
import os
import shutil
from collections.abc import Callable
from typing import Protocol


class Filesystem(Protocol):
    """Raw-put storage backend (K5-K9 + S4 surface)."""

    def put(self, key: str, text: str) -> str: ...

    def put_gzip(self, key: str, text: str) -> str: ...

    def read(self, key: str) -> str: ...

    def exists(self, key: str) -> bool: ...

    def delete_prefix(self, key: str) -> bool: ...

    def purge(
        self, keys: list[str], batch: int = 1000,
        on_batch: Callable[[int, int], None] | None = None,
    ) -> int: ...

    def list_prefix(self, prefix: str) -> list[str]: ...

    def latest_prefix(self, prefix: str) -> str | None: ...


class LocalFilesystem:
    """POSIX carrier — the only one runnable in this sandbox. All
    methods are executor-safe (stdlib only, no Spark imports)."""

    def put(self, key: str, text: str) -> str:
        """Atomic replace: write a hidden sibling, then ``os.replace`` it
        over ``key``, so a crash mid-write leaves the old text, never a
        truncated file (a ``_MANIFEST`` put is the commit point of index
        compaction and rebuilds)."""
        parent, name = os.path.split(key)
        os.makedirs(parent or ".", exist_ok=True)
        tmp = os.path.join(parent, f".{name}.{os.getpid()}.tmp")
        try:
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(text)
            os.replace(tmp, key)
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise
        return key

    def put_gzip(self, key: str, text: str) -> str:
        os.makedirs(os.path.dirname(key) or ".", exist_ok=True)
        with _gzip.open(key, "wt", encoding="utf-8") as f:
            f.write(text)
        return key

    def read(self, key: str) -> str:
        opener = _gzip.open if key.endswith(".gz") else open
        with opener(key, "rt", encoding="utf-8") as f:  # type: ignore[operator]
            return f.read()

    def exists(self, key: str) -> bool:
        return os.path.exists(key)

    def delete_prefix(self, key: str) -> bool:
        if os.path.isdir(key):
            shutil.rmtree(key)
            return True
        if os.path.exists(key):
            os.remove(key)
            return True
        return False

    def purge(
        self, keys: list[str], batch: int = 1000,
        on_batch: Callable[[int, int], None] | None = None,
    ) -> int:
        removed = 0
        for i in range(0, len(keys), batch):
            n_before = removed
            for key in keys[i : i + batch]:
                if os.path.exists(key):
                    os.remove(key)
                    removed += 1
            if on_batch is not None:
                on_batch(i // batch, removed - n_before)
        return removed

    def list_prefix(self, prefix: str) -> list[str]:
        # glob.escape: a prefix containing [, ? or * is a literal path
        # here — unescaped it becomes a character class / wildcard and
        # the listing silently returns wrong or empty results (a
        # silent catalog omission at the S4 discovery call site)
        return sorted(_glob.glob(os.path.join(_glob.escape(prefix), "*")))

    def latest_prefix(self, prefix: str) -> str | None:
        children = [p for p in self.list_prefix(prefix) if os.path.isdir(p)]
        return children[-1] if children else None


class MemoryFilesystem:
    """In-memory object-store carrier: a flat key→bytes mapping with
    S3-like semantics — no directories, prefix listing is a key scan,
    "directories" exist only as shared key prefixes. Proves that every
    K5-K9 call site works against a non-POSIX backend (the same
    contract an S3/GCS carrier implements), and doubles as the test
    backend for purge batching and paged listing.

    ``page_size`` emulates paged List requests: ``list_prefix`` walks
    the key space page-by-page and stops at ``max_keys``
    (S3FileHelper.scala:16's 2M-key cap — the reference treats a
    listing that large as a bug, not a workload).
    """

    #: listing cap mirrored from the reference's S3 helper.
    MAX_LIST_KEYS = 2_000_000

    def __init__(self, page_size: int = 1000) -> None:
        self.objects: dict[str, bytes] = {}
        self.page_size = page_size
        self.list_pages = 0  # observability for tests

    def put(self, key: str, text: str) -> str:
        self.objects[key] = text.encode("utf-8")
        return key

    def put_gzip(self, key: str, text: str) -> str:
        self.objects[key] = _gzip.compress(text.encode("utf-8"))
        return key

    def read(self, key: str) -> str:
        try:
            data = self.objects[key]
        except KeyError:
            # carrier contract: every backend raises FileNotFoundError
            # for a missing object (what 'file' and fsspec raise) —
            # a bare KeyError would pass real backends' callers and
            # crash only against this one
            raise FileNotFoundError(key) from None
        if key.endswith(".gz"):
            data = _gzip.decompress(data)
        return data.decode("utf-8")

    def exists(self, key: str) -> bool:
        # an exact object, or a "directory" (any key under the prefix)
        if key in self.objects:
            return True
        prefix = key.rstrip("/") + "/"
        return any(k.startswith(prefix) for k in self.objects)

    def delete_prefix(self, key: str) -> bool:
        prefix = key.rstrip("/") + "/"
        doomed = [k for k in self.objects if k == key or k.startswith(prefix)]
        for k in doomed:
            del self.objects[k]
        return bool(doomed)

    def purge(
        self, keys: list[str], batch: int = 1000,
        on_batch: Callable[[int, int], None] | None = None,
    ) -> int:
        removed = 0
        for i in range(0, len(keys), batch):
            n_before = removed
            for key in keys[i : i + batch]:
                if key in self.objects:
                    del self.objects[key]
                    removed += 1
            if on_batch is not None:
                on_batch(i // batch, removed - n_before)
        return removed

    def list_prefix(self, prefix: str) -> list[str]:
        """Immediate children of ``prefix`` (object keys and pseudo-dir
        prefixes), paged like an object-store List call and capped at
        :data:`MAX_LIST_KEYS` matched keys."""
        base = prefix.rstrip("/") + "/"
        out: set[str] = set()
        matched = 0
        self.list_pages = 0
        keys = sorted(self.objects)
        for page_start in range(0, len(keys), self.page_size):
            self.list_pages += 1
            for k in keys[page_start : page_start + self.page_size]:
                if not k.startswith(base):
                    continue
                matched += 1
                if matched > self.MAX_LIST_KEYS:
                    raise RuntimeError(
                        f"listing under {prefix!r} exceeds "
                        f"{self.MAX_LIST_KEYS} keys"
                    )
                rest = k[len(base):]
                child = base + rest.split("/", 1)[0]
                out.add(child)
        return sorted(out)

    def latest_prefix(self, prefix: str) -> str | None:
        children = [
            c for c in self.list_prefix(prefix)
            # pseudo-directory = some key strictly below it
            if any(k.startswith(c + "/") for k in self.objects)
        ]
        return children[-1] if children else None


class FsspecFilesystem:
    """Adapter over an `fsspec <https://filesystem-spec.readthedocs.io>`_
    AbstractFileSystem — the production object-store path (s3fs, gcsfs,
    abfs all speak it). Import-gated: fsspec is not in the sandbox, so
    construction raises ImportError unless an ``fs`` instance is
    injected. The adapter's code runs in tests/test_fs.py's full K5-K9
    contract matrix against a duck-typed AbstractFileSystem fake
    (always), and against fsspec's real ``memory://`` backend when the
    package is importable.

    Usage on a real cluster::

        import fsspec
        from batch_process_dpla_index_spark.io import fs as iofs
        iofs.register_fs("s3", iofs.FsspecFilesystem(fsspec.filesystem("s3")))
    """

    def __init__(self, fs=None, protocol: str | None = None) -> None:
        if fs is None:
            import fsspec  # raises ImportError in this sandbox

            fs = fsspec.filesystem(protocol or "file")
        self.fs = fs

    def put(self, key: str, text: str) -> str:
        with self.fs.open(key, "wb") as f:
            f.write(text.encode("utf-8"))
        return key

    def put_gzip(self, key: str, text: str) -> str:
        with self.fs.open(key, "wb") as f:
            f.write(_gzip.compress(text.encode("utf-8")))
        return key

    def read(self, key: str) -> str:
        with self.fs.open(key, "rb") as f:
            data = f.read()
        if key.endswith(".gz"):
            data = _gzip.decompress(data)
        return data.decode("utf-8")

    def exists(self, key: str) -> bool:
        return bool(self.fs.exists(key))

    def delete_prefix(self, key: str) -> bool:
        if not self.fs.exists(key):
            return False
        self.fs.rm(key, recursive=True)
        return True

    def purge(
        self, keys: list[str], batch: int = 1000,
        on_batch: Callable[[int, int], None] | None = None,
        strict_count: bool = True,
    ) -> int:
        """``strict_count=True`` (the carrier contract: missing keys are
        not counted) pays one exists() round trip per key — on an
        object store that is a HEAD per key, which dominates a large
        purge. ``strict_count=False`` is the production fast path: one
        bulk delete per batch, missing keys deleted as no-ops and
        counted as requested (exactly S3 DeleteObjects semantics, the
        reference's own purge); use it when the caller doesn't need
        the removed count to exclude already-absent keys."""
        removed = 0
        for i in range(0, len(keys), batch):
            group = keys[i : i + batch]
            n_before = removed
            if strict_count:
                existing = [k for k in group if self.fs.exists(k)]
                if existing:
                    # one bulk call per batch — fsspec fans this out to
                    # the store's multi-delete where supported
                    self.fs.rm(existing)
                    removed += len(existing)
            else:
                try:
                    self.fs.rm(group)
                    removed += len(group)
                except FileNotFoundError:
                    for k in group:
                        try:
                            self.fs.rm(k)
                            removed += 1
                        except FileNotFoundError:
                            pass
            if on_batch is not None:
                on_batch(i // batch, removed - n_before)
        return removed

    def list_prefix(self, prefix: str) -> list[str]:
        if not self.fs.exists(prefix):
            return []
        return sorted(self.fs.ls(prefix, detail=False))

    def latest_prefix(self, prefix: str) -> str | None:
        if not self.fs.exists(prefix):  # first run: no snapshot yet → None,
            return None  # matching the Local/Memory carriers (no FileNotFoundError)
        children = [
            p["name"] if isinstance(p, dict) else p
            for p in self.fs.ls(prefix, detail=True)
            if (p.get("type") == "directory" if isinstance(p, dict) else self.fs.isdir(p))
        ]
        return sorted(children)[-1] if children else None


_REGISTRY: dict[str, Filesystem] = {"file": LocalFilesystem()}


def register_fs(scheme: str, fs: Filesystem) -> None:
    """Plug in a backend for a URI scheme ('s3', 'gs', …)."""
    _REGISTRY[scheme] = fs


def get_fs(path: str) -> Filesystem:
    """K7 scheme dispatch: pick the backend from the path's scheme;
    scheme-less paths are local files."""
    scheme = path.split("://", 1)[0] if "://" in path else "file"
    try:
        return _REGISTRY[scheme]
    except KeyError:
        raise NotImplementedError(
            f"no filesystem registered for scheme '{scheme}' "
            f"(register one via io.fs.register_fs)"
        ) from None


def strip_scheme(path: str) -> str:
    """Local keys for scheme-less/file paths ('file:///x' → '/x')."""
    if path.startswith("file://"):
        return path[len("file://"):]
    return path
