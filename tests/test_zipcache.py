"""The stat-checked ``zipimporter.invalidate_caches`` installed at package
import: an unchanged archive is not re-read at ``importlib.invalidate_caches``,
a rewritten one is."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from kafka_es_spark import _zipcache
from kafka_es_spark.operators.spimi import gather_dls

LAZY = sys.version_info >= (3, 13)  # invalidate_caches already reads nothing


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(LAZY, reason="CPython >= 3.13 reads zip directories lazily")
def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches.stat_checked
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_mod_a": "X = 1\n"})
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zc_mod_a").X == 1
        importlib.invalidate_caches()  # first check records the stamp
        n = len(reads)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads[n:] == []

        # a rewrite (new size and mtime) is picked up on the next invalidation
        _write_zip(archive, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert archive in reads[n:]
        assert importlib.import_module("zc_mod_b").Y == 2
    finally:
        for m in ("zc_mod_a", "zc_mod_b"):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_install_is_idempotent():
    before = zipimport.zipimporter.invalidate_caches
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_engine_udf_worker_has_the_shim(spark):
    def probe(batches):
        # gather_dls is the engine's: unpickling this closure in the worker
        # imports kafka_es_spark, as every engine UDF does
        assert callable(gather_dls)
        installed = LAZY or getattr(
            zipimport.zipimporter.invalidate_caches, "stat_checked", False
        )
        for pdf in batches:
            yield pd.DataFrame({"installed": [bool(installed)] * len(pdf)})

    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(probe, "installed boolean")
        .collect()
    )
    assert len(rows) == 4 and all(r["installed"] for r in rows)
