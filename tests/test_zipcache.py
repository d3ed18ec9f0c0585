"""The stat guard on ``zipimport`` invalidation (crawspark.zipcache): an
unchanged archive is not re-read by ``importlib.invalidate_caches()``, a
rewritten one is, and a warm Spark worker re-reads none."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import crawspark  # noqa: F401  (installs the guard)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimport invalidation no longer re-reads archives")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _count_reads(monkeypatch, path) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zipcache_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zipcache_mod_a", "zipcache_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    assert importlib.import_module("zipcache_mod_a").VALUE == "a"
    importlib.invalidate_caches()  # the first guarded call records the stat
    reads = _count_reads(monkeypatch, archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(archive, monkeypatch):
    assert importlib.import_module("zipcache_mod_a").VALUE == "a"
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zipcache_mod_b")
    _write_zip(archive, {"zipcache_mod_a": "VALUE = 'a'\n",
                         "zipcache_mod_b": "VALUE = 'b'\n"})
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zipcache_mod_b").VALUE == "b"


def test_missing_archive_keeps_original_behaviour(archive):
    importlib.import_module("zipcache_mod_a")
    importer = sys.path_importer_cache[archive]
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}


def _import_crawspark(batches):
    import crawspark  # noqa: F401

    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"pid": [os.getpid()]})


def _invalidate_and_count(batches):
    for _ in batches:
        pass
    archives = {imp.archive for imp in sys.path_importer_cache.values()
                if isinstance(imp, zipimport.zipimporter)}
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()], "archives": [len(archives)],
        "reads": [len(reads)]})


def test_warm_spark_worker_rereads_no_archive(spark):
    from crawspark.bundle import ensure_shipped

    ensure_shipped(spark)
    sc = spark.sparkContext
    # Spark pools Python workers per worker environment. An entry nothing
    # reads gives this test a fresh pool, so both one-task jobs run in the
    # same worker: the second job is that worker's second task.
    sc.environment["ZIPCACHE_TEST_POOL"] = "1"
    try:
        one = spark.range(1, numPartitions=1)
        first = one.mapInArrow(_import_crawspark, "pid long").collect()
        second = one.mapInArrow(
            _invalidate_and_count,
            "pid long, archives long, reads long").collect()
    finally:
        del sc.environment["ZIPCACHE_TEST_POOL"]
    assert first[0]["pid"] == second[0]["pid"]
    # pyspark.zip, py4j and the crawspark bundle at least
    assert second[0]["archives"] >= 3
    assert second[0]["reads"] == 0
