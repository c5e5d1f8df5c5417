"""Stat-checked zip-directory invalidation (lucene_spark.worker_zipcache).

pyspark's worker calls importlib.invalidate_caches() at the start of each
task; on CPython < 3.13 every cached zipimporter then re-reads its whole
archive directory. The engine's worker hook re-reads only an archive
whose stat changed.
"""

from __future__ import annotations

import importlib.util
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from lucene_spark import worker_zipcache


def _write_zip(path, members: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_stat_checked_invalidation_rereads_only_changed_archive(tmp_path):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zc_one.py": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    try:
        worker_zipcache.invalidate_caches(imp)
        files = imp._files
        worker_zipcache.invalidate_caches(imp)
        assert imp._files is files  # unchanged archive: no re-read
        assert imp.find_spec("zc_two") is None

        _write_zip(archive, {"zc_one.py": "X = 1\n", "zc_two.py": "Y = 2\n"})
        worker_zipcache.invalidate_caches(imp)
        assert imp._files is not files
        spec = imp.find_spec("zc_two")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert mod.Y == 2
    finally:
        zipimport._zip_directory_cache.pop(str(archive), None)
        worker_zipcache._stamps.pop(str(archive), None)
    # the test process itself is not a Spark task: nothing was installed
    assert zipimport.zipimporter.invalidate_caches is worker_zipcache._STOCK


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="the hook is a no-op where invalidation is lazy")
def test_worker_invalidation_keeps_zip_directories(spark):
    def engine_udf(it):
        import lucene_spark  # noqa: F401

        yield from it

    def check(it):
        import importlib
        import zipimport

        import lucene_spark  # noqa: F401
        from lucene_spark import worker_zipcache

        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        before = [id(f._files) for f in zips]
        importlib.invalidate_caches()
        kept = [id(f._files) for f in zips] == before
        installed = (zipimport.zipimporter.invalidate_caches
                     is worker_zipcache.invalidate_caches)
        for _ in it:
            pass
        yield pd.DataFrame({"installed": [installed], "kept": [kept],
                            "zips": [len(zips)]})

    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(engine_udf, "id long").collect()
    rows = (spark.range(n, numPartitions=n)
            .mapInPandas(check, "installed boolean, kept boolean, zips int")
            .collect())
    assert rows and all(r["installed"] and r["kept"] for r in rows), rows
    assert all(r["zips"] > 0 for r in rows), rows  # pyspark.zip is on the path
    assert zipimport.zipimporter.invalidate_caches is worker_zipcache._STOCK
