"""The zip-directory cache (ocr_spark/zipcache.py): an unchanged archive
is not re-read by importlib.invalidate_caches(), a rewritten one is,
and the Python workers run with it installed."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from ocr_spark import zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="install() is a no-op on Python >= 3.12"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Count the archive directory reads zipimport makes."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_first": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zc_first", "zc_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive, reads):
    import zc_first

    assert zc_first.X == 1
    importlib.invalidate_caches()  # the first call records the archive's stamp
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads


def test_rewritten_archive_is_reread(archive, reads):
    import zc_first  # noqa: F401

    importlib.invalidate_caches()
    _write_zip(archive, {"zc_first": "X = 1\n", "zc_second": "Y = 'a longer archive'\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    import zc_second

    assert zc_second.Y == "a longer archive"


def test_importers_of_one_archive_share_one_read(archive, reads):
    importers = [zipimport.zipimporter(archive) for _ in range(4)]
    for imp in importers:
        imp.invalidate_caches()
    reads.clear()
    for imp in importers:
        imp.invalidate_caches()
    assert reads == []
    assert all(imp._files is zipimport._zip_directory_cache[archive] for imp in importers)


def test_install_is_idempotent():
    zipcache.install()
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is zipcache.invalidate_caches


def test_install_is_a_noop_on_312(monkeypatch):
    def sentinel(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", sentinel)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is sentinel


def test_cache_is_live_in_workers(spark):
    def report(batches):
        """Per task: is the cache installed, and did this task's set-up
        leave every zip importer on one shared directory (the stock
        invalidation gives each importer a fresh read of its own)."""
        import ocr_spark.zipcache as zc

        importers = [
            imp for imp in sys.path_importer_cache.values() if isinstance(imp, zipimport.zipimporter)
        ]
        shared = all(imp._files is zipimport._zip_directory_cache.get(imp.archive) for imp in importers)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "installed": [zipimport.zipimporter.invalidate_caches is zc.invalidate_caches],
                "shared": [shared],
                "importers": [len(importers)],
            }
        )

    df = spark.range(0, 64, numPartitions=8)
    schema = "installed boolean, shared boolean, importers long"
    df.mapInArrow(report, schema).collect()  # every worker imports ocr_spark
    rows = df.mapInArrow(report, schema).collect()
    assert len(rows) == 8
    assert all(r["installed"] for r in rows), rows
    # the workers import pyspark from pyspark.zip, and the cached
    # invalidation ran in this job's task set-up
    assert all(r["importers"] > 0 and r["shared"] for r in rows), rows
