"""The stat-guarded ``zipimporter.invalidate_caches`` that
`session.guard_zip_invalidation` installs in Python workers: an
unchanged archive is not re-read on invalidation, a rewritten one is,
and a package closure installs the guard on the worker."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from batch_process_dpla_index_spark import session


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_zip_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    # monkeypatch restores the stdlib method, undoing the install below
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    session.guard_zip_invalidation()

    archive = tmp_path / "guarded.zip"
    _write_zip(archive, {"zguard_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zguard_a", "zguard_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zguard_a").VALUE == 1
    importlib.invalidate_caches()  # first call on each importer re-reads

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    assert reads == []

    # the same path rewritten with a new module: the stamp changed, so
    # the next invalidation re-reads it and the module imports
    _write_zip(archive, {"zguard_a": "VALUE = 1\n", "zguard_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert str(archive) in reads
    assert importlib.import_module("zguard_b").VALUE == 2


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip caches lazily; no guard is installed",
)
def test_package_closure_installs_zip_guard_on_worker(spark):
    import pyarrow as pa

    def probe(batches):
        import zipimport as zi

        # a global of this package: unpickling the closure imports the
        # package, and with it the session module, before this runs
        session  # noqa: B018
        guard = zi.zipimporter.invalidate_caches
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"guarded": [getattr(guard, "_stat_guarded", False)] * b.num_rows}
            )

    frame = spark.range(0, 4, 1, 4)
    frame.mapInArrow(probe, "guarded boolean").collect()
    rows = frame.mapInArrow(probe, "guarded boolean").collect()
    assert [r.guarded for r in rows] == [True] * 4
