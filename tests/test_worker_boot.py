"""The zipimporter cache guard installed by ``engine/__init__.py``.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task; before CPython 3.13 that re-reads every zip archive's directory.
The guard skips the re-read while an archive's
``(st_ino, st_size, st_mtime_ns)`` is unchanged.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import engine

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 re-reads zip directories lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    # build beside the target and swap in: a new inode, like a redeploy
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "boot_mods.zip")
    _write_zip(archive, {"boot_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("boot_mod_a", "boot_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_guard_installed():
    assert zipimport.zipimporter.invalidate_caches is engine._invalidate_if_changed


def test_unchanged_zip_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("boot_mod_a").VALUE == "a"
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)
    importlib.invalidate_caches()  # no stamp yet: one re-read, then stamped
    assert importer._dir_stamp is not None
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []


def test_replaced_zip_is_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("boot_mod_a")
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("boot_mod_b")
    reads.clear()
    _write_zip(archive, {"boot_mod_a": "VALUE = 'a'\n", "boot_mod_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("boot_mod_b").VALUE == "b"


def test_missing_zip_falls_through(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("boot_mod_a")
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()  # stat fails: the stdlib method runs
    assert importer._dir_stamp is None and importer._files == {}


def test_workers_run_guarded(spark):
    """Each task of an engine-function ``mapInArrow`` runs in a worker
    whose ``zipimporter.invalidate_caches`` is the guard. The function's
    reference to ``engine`` makes the worker import it while unpickling
    the function, as for every engine UDF. A worker's first such task
    ran ``invalidate_caches`` before ``engine`` was imported, so its zip
    importers are stamped from its second task on."""
    import pyarrow as pa

    def probe(batches):
        guarded = zipimport.zipimporter.invalidate_caches is engine._invalidate_if_changed
        zips = [
            imp for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
            and os.path.basename(imp.archive) == "pyspark.zip"
        ]
        stamped = bool(zips) and all(getattr(imp, "_dir_stamp", None) for imp in zips)
        for b in batches:
            n = b.num_rows
            yield pa.RecordBatch.from_pydict({
                "pid": [os.getpid()] * n,
                "guarded": [guarded] * n,
                "pyspark_zips": [len(zips)] * n,
                "stamped": [stamped] * n,
            })

    schema = "pid long, guarded boolean, pyspark_zips long, stamped boolean"
    df = spark.range(0, 16, numPartitions=16).mapInArrow(probe, schema)
    rows = df.collect() + df.collect()
    assert len(rows) == 32
    assert all(r.guarded for r in rows)
    if not any(r.pyspark_zips for r in rows):
        pytest.skip("workers import pyspark from site-packages, not pyspark.zip")
    unstamped: dict[int, int] = {}
    for r in rows:
        unstamped[r.pid] = unstamped.get(r.pid, 0) + (not r.stamped)
    # at most one unstamped task (the first with engine) per worker,
    # and reused workers exist, so some task was served by the guard
    assert max(unstamped.values()) <= 1
    assert any(r.stamped for r in rows)
