"""The worker daemon's ``zipimporter.invalidate_caches`` backport: an
unchanged archive's directory is read once, a rewritten one is re-read,
and the workers of a ``get_spark`` session run with it."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from mgspark import daemon

eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport invalidates lazily since 3.13"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding ``mgspark_zip_m.py`` on sys.path, the backport
    installed, and a list that records every archive directory read."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"mgspark_zip_m.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("mgspark_zip_m", "mgspark_zip_n"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon._invalidate_caches)
    monkeypatch.setattr(daemon, "_directories", {})
    assert importlib.import_module("mgspark_zip_m").X == 1
    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or stock_read(path)
    )
    yield archive, reads
    for name in ("mgspark_zip_m", "mgspark_zip_n"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@eager_zipimport
def test_unchanged_archive_is_read_once(zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


@eager_zipimport
def test_rewritten_archive_is_read_again(zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    _write_zip(archive, {"mgspark_zip_m.py": "X = 1\n", "mgspark_zip_n.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("mgspark_zip_n").Y == 2


@pytest.mark.parametrize("version", [(3, 12, 1), (3, 13, 0)])
def test_install_patches_only_before_3_13(monkeypatch, version):
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "mgspark_zip_backport", False):
        pytest.skip("this process already runs the backport")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", version)
    patched = version < (3, 13)
    assert daemon.install() is patched
    assert (zipimport.zipimporter.invalidate_caches is daemon._invalidate_caches) is patched
    assert daemon.install() is False  # already patched, or stock on 3.13


def test_session_workers_run_the_backport(spark):
    """Workers fork from ``mgspark.daemon`` (run as ``__main__``, so the
    patch is found by its marker) and import mgspark from the session's
    executor PYTHONPATH."""
    import pyarrow as pa

    from mgspark.session import PACKAGE_PARENT

    def probe(batches):
        import zipimport

        marked = getattr(zipimport.zipimporter.invalidate_caches, "mgspark_zip_backport", False)
        for batch in batches:
            yield pa.RecordBatch.from_pydict({"marked": [marked] * batch.num_rows})

    rows = spark.range(0, 4, numPartitions=2).mapInArrow(probe, "marked boolean").collect()
    assert [row.marked for row in rows] == [sys.version_info < (3, 13)] * 4
    python_path = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert python_path[0] == PACKAGE_PARENT
