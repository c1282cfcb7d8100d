"""Filesystem-carrier contract suite (K5-K9 + S4 seam, io/fs.py).

One suite, every backend: the same assertions run against the POSIX
carrier and the in-memory object-store carrier (S3-semantics test
double), proving the raw-put sink seam is backend-agnostic — the
reference's S3FileHelper contract (paged listing, raw/gzip put,
1000-key batch delete, latest-dated-prefix discovery) holds without a
real object store. FsspecFilesystem runs in the matrix against a
duck-typed fsspec fake (always), and against the genuine `memory://`
backend too when fsspec is installed.
"""

from __future__ import annotations

import gzip
import os

import pytest

from batch_process_dpla_index_spark.io.fs import (
    LocalFilesystem,
    MemoryFilesystem,
    get_fs,
    register_fs,
)


class _FakeAbstractFS:
    """Duck-typed stand-in for fsspec's MemoryFileSystem implementing
    exactly the AbstractFileSystem subset `FsspecFilesystem` calls
    (open / exists / ls / rm / isdir), with fsspec semantics:
    implicit parent directories, `ls(detail=True)` dicts carrying
    ``name``/``type``, `rm` accepting a str or a list. This executes
    the adapter's real code in the sandbox (fsspec itself isn't
    installed); when fsspec IS importable, the same contract suite
    also runs against the genuine `memory://` backend."""

    def __init__(self) -> None:
        self.files: dict[str, bytes] = {}

    @staticmethod
    def _norm(path: str) -> str:
        return "/" + path.strip("/")

    def open(self, path, mode="rb"):
        import io

        path = self._norm(path)
        if "w" in mode:
            fake = self

            class _W(io.BytesIO):
                def close(inner):  # noqa: N805
                    fake.files[path] = inner.getvalue()
                    super().close()

            return _W()
        if path not in self.files:
            raise FileNotFoundError(path)
        return io.BytesIO(self.files[path])

    def isdir(self, path) -> bool:
        d = self._norm(path) + "/"
        return any(k.startswith(d) for k in self.files)

    def exists(self, path) -> bool:
        return self._norm(path) in self.files or self.isdir(path)

    def ls(self, path, detail=False):
        path = self._norm(path)
        if path in self.files:
            entries = [path]
        else:
            d = path + "/"
            entries = sorted(
                {d + k[len(d):].split("/", 1)[0] for k in self.files if k.startswith(d)}
            )
        if not detail:
            return entries
        return [
            {"name": e, "type": "directory" if self.isdir(e) else "file"}
            for e in entries
        ]

    def rm(self, path, recursive=False):
        for p in [path] if isinstance(path, str) else path:
            p = self._norm(p)
            if p in self.files:
                del self.files[p]
            elif recursive:
                d = p + "/"
                for k in [k for k in self.files if k.startswith(d)]:
                    del self.files[k]


def _backends():
    yield "local"
    yield "memory"
    yield "fsspec-fake"
    try:
        import fsspec  # noqa: F401

        yield "fsspec"
    except ImportError:
        pass


@pytest.fixture(params=list(_backends()))
def carrier(request, tmp_path):
    """(fs, base) — base is a writable root path/prefix for the backend."""
    if request.param == "local":
        return LocalFilesystem(), str(tmp_path)
    if request.param == "memory":
        return MemoryFilesystem(), "mem://bucket/data"

    from batch_process_dpla_index_spark.io.fs import FsspecFilesystem

    if request.param == "fsspec-fake":
        return FsspecFilesystem(_FakeAbstractFS()), "/fsspec-test"
    import fsspec

    return FsspecFilesystem(fsspec.filesystem("memory")), "/fsspec-test"


def test_put_read_roundtrip(carrier):
    fs, base = carrier
    key = f"{base}/a/report.txt"
    assert fs.put(key, "hello κόσμε") == key
    assert fs.exists(key)
    assert fs.read(key) == "hello κόσμε"


def test_put_gzip_is_real_gzip(carrier):
    fs, base = carrier
    key = f"{base}/a/report.txt.gz"
    fs.put_gzip(key, "compressed payload")
    assert fs.read(key) == "compressed payload"
    # the stored bytes really are gzip (S3FileHelper.scala:76-98 writes
    # a gzip stream, not content-encoding tricks)
    if isinstance(fs, MemoryFilesystem):
        assert gzip.decompress(fs.objects[key]) == b"compressed payload"
    elif isinstance(fs, LocalFilesystem):
        with open(key, "rb") as f:
            assert f.read()[:2] == b"\x1f\x8b"


def test_exists_covers_objects_and_prefixes(carrier):
    fs, base = carrier
    fs.put(f"{base}/d/one.txt", "1")
    assert fs.exists(f"{base}/d/one.txt")
    assert fs.exists(f"{base}/d")
    assert not fs.exists(f"{base}/nope")


def test_delete_prefix_idempotent_overwrite(carrier):
    """K8 (JsonlDump.scala:72-74): remove whatever is at the path,
    report whether anything was removed; second call is a no-op."""
    fs, base = carrier
    fs.put(f"{base}/out/part-0", "x")
    fs.put(f"{base}/out/part-1", "y")
    assert fs.delete_prefix(f"{base}/out") is True
    assert not fs.exists(f"{base}/out/part-0")
    assert fs.delete_prefix(f"{base}/out") is False


def test_purge_batches_of_1000(carrier):
    """K9 (S3FileHelper.scala:46-55): ≤1000 keys per delete batch,
    per-batch progress callback, missing keys not counted."""
    fs, base = carrier
    keys = [f"{base}/thumbs/{i:05d}.jpg" for i in range(2500)]
    for k in keys[:2400]:  # last 100 never existed
        fs.put(k, ".")
    batches: list[tuple[int, int]] = []
    removed = fs.purge(keys, batch=1000, on_batch=lambda i, n: batches.append((i, n)))
    assert removed == 2400
    assert [i for i, _ in batches] == [0, 1, 2]
    assert [n for _, n in batches] == [1000, 1000, 400]
    assert not fs.exists(keys[0])


def test_list_prefix_immediate_children(carrier):
    fs, base = carrier
    fs.put(f"{base}/cat/2024/part-0", "a")
    fs.put(f"{base}/cat/2024/part-1", "b")
    fs.put(f"{base}/cat/top.txt", "c")
    children = fs.list_prefix(f"{base}/cat")
    names = {c.rstrip("/").rsplit("/", 1)[-1] for c in children}
    assert names == {"2024", "top.txt"}


def test_latest_prefix_dated_discovery(carrier):
    """S4 (S3FileHelper.scala:27): lexicographically-greatest child
    directory wins — dated folders sort correctly."""
    fs, base = carrier
    for d in ("2023-12", "2024-02", "2024-01"):
        fs.put(f"{base}/snap/{d}/data.json", "{}")
    fs.put(f"{base}/snap/zzz-not-a-dir.txt", "x")  # plain object loses
    latest = fs.latest_prefix(f"{base}/snap")
    assert latest is not None and latest.rstrip("/").endswith("2024-02")


# ---- object-store-only semantics (the S3 test double itself) ----


def test_memory_listing_is_paged():
    fs = MemoryFilesystem(page_size=10)
    for i in range(35):
        fs.put(f"mem://b/p/{i:03d}", ".")
    children = fs.list_prefix("mem://b/p")
    assert len(children) == 35
    assert fs.list_pages == 4  # ceil(35/10)


def test_memory_listing_cap_enforced(monkeypatch):
    fs = MemoryFilesystem()
    monkeypatch.setattr(MemoryFilesystem, "MAX_LIST_KEYS", 5)
    for i in range(6):
        fs.put(f"mem://b/big/{i}", ".")
    with pytest.raises(RuntimeError, match="exceeds 5 keys"):
        fs.list_prefix("mem://b/big")


# ---- the sink functions dispatch through the seam (K7) ----


def test_sinks_route_through_registered_carrier():
    from batch_process_dpla_index_spark.io.sinks import (
        delete_existing,
        purge_keys,
        write_local,
        write_local_gzip,
    )

    mem = MemoryFilesystem()
    register_fs("mem", mem)
    try:
        out = "mem://bucket/reports/2024-01"
        p1 = write_local(out, "summary.csv", "a,b\n1,2\n")
        p2 = write_local_gzip(out, "dump.jsonl.gz", '{"x":1}\n')
        assert get_fs(out) is mem
        assert mem.read(p1) == "a,b\n1,2\n"
        assert mem.read(p2) == '{"x":1}\n'
        assert purge_keys([p1, p2]) == 2
        write_local(out, "again.txt", "x")
        assert delete_existing(out) is True
        assert mem.objects == {}
    finally:
        # don't leak the registration into other tests
        from batch_process_dpla_index_spark.io import fs as fs_mod

        fs_mod._REGISTRY.pop("mem", None)


def test_unregistered_scheme_is_a_clear_error():
    with pytest.raises(NotImplementedError, match="scheme 's3'"):
        get_fs("s3://bucket/key")


def test_memory_read_missing_key_raises_filenotfound():
    """Carrier contract: every backend raises FileNotFoundError for a
    missing object (what 'file' and fsspec raise) — not KeyError."""
    from batch_process_dpla_index_spark.io.fs import MemoryFilesystem

    with pytest.raises(FileNotFoundError):
        MemoryFilesystem().read("nope/missing.txt")


def test_local_list_prefix_with_glob_chars(tmp_path):
    """A prefix containing [, ? or * is a literal path: unescaped it
    becomes a character class and the listing silently lies."""
    from batch_process_dpla_index_spark.io.fs import LocalFilesystem

    weird = tmp_path / "hub[1]"
    weird.mkdir()
    (weird / "a.txt").write_text("x")
    got = LocalFilesystem().list_prefix(str(weird))
    assert got == [str(weird / "a.txt")]


def test_purge_keys_groups_by_scheme(tmp_path):
    """Mixed-scheme key lists purge on EACH key's backend — dispatching
    everything to keys[0]'s scheme would silently skip the rest."""
    from batch_process_dpla_index_spark.io import fs as fs_mod
    from batch_process_dpla_index_spark.io.fs import MemoryFilesystem
    from batch_process_dpla_index_spark.io.sinks import purge_keys

    mem = MemoryFilesystem()
    fs_mod.register_fs("mem2", mem)
    try:
        local = tmp_path / "l.txt"
        local.write_text("x")
        mem.put("mem2://b/k.txt", "y")
        assert purge_keys([str(local), "mem2://b/k.txt"]) == 2
        assert not local.exists() and mem.objects == {}
    finally:
        fs_mod._REGISTRY.pop("mem2", None)


def test_local_put_is_atomic(tmp_path, monkeypatch):
    """A put that dies part-way through its write leaves the old text
    and no temp file: the ``_MANIFEST`` put is the commit point of index
    compaction and rebuilds, and a truncated manifest reads back with
    its keys missing."""
    import builtins

    from batch_process_dpla_index_spark.io import fs as fs_mod
    from batch_process_dpla_index_spark.io.manifest import (
        read_manifest,
        write_manifest,
    )

    write_manifest({"dim": "64"}, str(tmp_path))

    class TornWrite:
        def __init__(self, *args, **kwargs):
            self.f = builtins.open(*args, **kwargs)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.f.close()

        def write(self, text):
            self.f.write(text[: len(text) // 2])
            raise OSError("device gone mid-write")

    monkeypatch.setattr(fs_mod, "open", TornWrite, raising=False)
    with pytest.raises(OSError, match="mid-write"):
        write_manifest({"dim": "128"}, str(tmp_path))
    monkeypatch.undo()
    assert read_manifest(str(tmp_path))["dim"] == "64"
    assert os.listdir(tmp_path) == ["_MANIFEST"]
