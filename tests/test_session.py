"""Session set-up: the worker daemon that get_spark selects (archive
directories are re-read only when an archive changes on disk) and the
package logger."""

from __future__ import annotations

import importlib
import logging
import sys
import zipfile
import zipimport

import pytest

from hail_elasticsearch_pipelines_spark import pydaemon

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the daemon patches CPython < 3.12 only"
)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A one-module zip on sys.path, with the daemon's patch installed
    and undone afterwards."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zd_first.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_stamps", {})
    pydaemon.install()
    import zd_first  # noqa: F401 — caches the archive's importer

    yield archive
    for name in ("zd_first", "zd_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@needs_patch
def test_unchanged_zip_is_not_reread(zip_on_path, monkeypatch):
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real(path))
    importlib.invalidate_caches()  # first call stamps the archive
    first = reads.count(zip_on_path)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert first <= 1 and reads.count(zip_on_path) == first


@needs_patch
def test_rewritten_zip_imports_new_module(zip_on_path):
    importlib.invalidate_caches()
    with zipfile.ZipFile(zip_on_path, "a") as z:
        z.writestr("zd_second.py", "Y = 2\n")
    importlib.invalidate_caches()
    import zd_second

    assert zd_second.Y == 2


def test_get_spark_selects_the_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == pydaemon.__name__


def test_failed_size_probe_is_logged(caplog):
    """spread_small_scan leaves its input alone when the plan-size probe
    raises, and says so at debug level on the package logger."""
    from types import SimpleNamespace

    from hail_elasticsearch_pipelines_spark.sources.readers import spread_small_scan

    ctx = SimpleNamespace(defaultParallelism=4)
    df = SimpleNamespace(sparkSession=SimpleNamespace(sparkContext=ctx), _jdf=None)
    with caplog.at_level(logging.DEBUG, logger="hail_elasticsearch_pipelines_spark"):
        assert spread_small_scan(df) is df
    assert any("size probe failed" in r.getMessage() for r in caplog.records)
