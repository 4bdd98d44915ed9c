"""The Python worker daemon keeps zip-archive directory reads across tasks,
re-reading an archive only when it changed on disk."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from building_a_rag_pipeline_with_airflow_spark._worker_daemon import (
    _invalidate_if_changed,
)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@pytest.fixture
def count_reads(monkeypatch):
    """Calls of ``zipimport._read_directory`` per archive path."""
    reads: dict = {}
    real = zipimport._read_directory

    def counting(archive):
        reads[archive] = reads.get(archive, 0) + 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_rewritten_archive_is_reread(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"wd_mod_a": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _invalidate_if_changed
    )
    monkeypatch.syspath_prepend(str(archive))
    for name in ("wd_mod_a", "wd_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wd_mod_a").X == 1
    importlib.invalidate_caches()  # the wrapper's first read of the archive

    _write_zip(archive, {"wd_mod_a": "X = 1\n", "wd_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("wd_mod_b").Y == 2


def test_unchanged_archive_is_not_reread(tmp_path, count_reads):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"pkg/__init__": "", "pkg/mod": "Z = 3\n"})
    top = zipimport.zipimporter(str(archive))
    sub = zipimport.zipimporter(str(archive / "pkg"))
    reads_at_init = count_reads.get(str(archive), 0)

    # what every task start costs without the wrapper: one read per importer
    for imp in (top, sub):
        imp.invalidate_caches()
    assert count_reads[str(archive)] == reads_at_init + 2

    for imp in (top, sub):
        _invalidate_if_changed(imp)  # an importer's first call reads once
    first = count_reads[str(archive)]
    assert first == reads_at_init + 4
    for _ in range(3):
        for imp in (top, sub):
            _invalidate_if_changed(imp)
    assert count_reads[str(archive)] == first
    assert sub.find_spec("pkg.mod") is not None


def test_session_workers_run_the_engine_daemon(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def invalidate_caches_origin(s):
        import os
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        return s.map(lambda _: f"{os.path.basename(code.co_filename)}:{code.co_name}")

    got = spark.range(1).select(invalidate_caches_origin(F.col("id")).alias("o")).first().o
    assert got == "_worker_daemon.py:_invalidate_if_changed"
