"""The sketchlib Python daemon: zipimport invalidation that skips an
unchanged archive, its wiring into get_spark, and the fallback to
Spark's own daemon."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from sketchlib import _daemon
from sketchlib.spark import session

OLD_PYTHON = sys.version_info < (3, 12)


def _write_zip(path, members):
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name in members:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)  # a new inode, as a rewritten archive has


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip on sys.path holding one module; the wrapper installed for
    the test only; every ``_read_directory`` of that zip counted."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["skd_first"])
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("skd_first", "skd_second"):
        sys.modules.pop(name, None)
    zipimport._zip_directory_cache.pop(archive, None)
    sys.path_importer_cache.pop(archive, None)


@pytest.mark.skipif(not OLD_PYTHON, reason="zipimport re-reads lazily on 3.12+")
def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    _daemon.install()
    assert importlib.import_module("skd_first").NAME == "skd_first"
    importlib.invalidate_caches()  # no stamp yet: reads once
    n = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == n

    _write_zip(archive, ["skd_first", "skd_second"])
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    assert importlib.import_module("skd_second").NAME == "skd_second"
    importlib.invalidate_caches()
    assert len(reads) == n + 1


@pytest.mark.skipif(not OLD_PYTHON, reason="zipimport re-reads lazily on 3.12+")
def test_missing_archive_still_invalidates(zip_on_path):
    archive, reads = zip_on_path
    _daemon.install()
    imp = zipimport.zipimporter(archive)
    os.remove(archive)
    imp.invalidate_caches()
    assert imp._files == {}


@pytest.mark.skipif(OLD_PYTHON, reason="the wrapper acts before 3.12")
def test_new_python_is_left_untouched(monkeypatch):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", before)
    _daemon.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_workers_run_the_wrapper(spark):
    import pyarrow as pa

    def fn(batches):
        import zipimport

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"m": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "sketchlib._daemon"
    rows = spark.range(1, numPartitions=1).mapInArrow(fn, "m string").collect()
    assert rows[0].m == ("sketchlib._daemon" if OLD_PYTHON else "zipimport")


def test_daemon_only_where_workers_import_the_package(tmp_path, monkeypatch):
    root = str(tmp_path / "checkout")
    os.makedirs(root)
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert session._daemon_module("local[4]", root) is None

    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/nonexistent", root]))
    assert session._daemon_module("local[4]", root) == "sketchlib._daemon"
    assert session._daemon_module("local", root) == "sketchlib._daemon"
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert session._daemon_module(master, root) is None

    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert session._daemon_module("local[4]", root) == "sketchlib._daemon"
    # imported from a zip (spark-submit --py-files): never
    assert session._daemon_module("local[4]", root + ".zip") is None


def test_extra_conf_overrides_the_daemon(monkeypatch):
    monkeypatch.setattr(session, "_daemon_module", lambda master: "sketchlib._daemon")
    key = "spark.python.daemon.module"
    assert session._session_conf("local[4]", None, 1024, None)[key] == "sketchlib._daemon"
    conf = session._session_conf("local[4]", None, 1024, {key: "pyspark.daemon"})
    assert conf[key] == "pyspark.daemon"
    monkeypatch.setattr(session, "_daemon_module", lambda master: None)
    assert key not in session._session_conf("local[4]", None, 1024, None)
