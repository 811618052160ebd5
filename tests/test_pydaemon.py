"""The Python worker daemon: a zipimporter re-reads its archive only when
the archive changed on disk, every ``get_spark`` task on a local master
runs under the daemon, and the per-task cache invalidation is cheap."""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pytest

from eeecs485_p4_mapreduce_spark import pydaemon
from eeecs485_p4_mapreduce_spark.session import PYTHON_DAEMON_MODULE, _daemon_conf
from tests.conftest import REPO_ROOT


@pytest.fixture
def counted_reads(monkeypatch):
    """Fresh directory cache and stamps; returns the list of archives
    ``zipimport._read_directory`` has read since."""
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    monkeypatch.setattr(pydaemon, "_stamps", {})
    reads: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path, *modules: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_read_once(tmp_path, counted_reads):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, "mod_a")
    importer = zipimport.zipimporter(str(archive))
    counted_reads.clear()
    pydaemon.invalidate_caches(importer)
    pydaemon.invalidate_caches(importer)
    assert len(counted_reads) <= 1
    assert importer.find_spec("mod_a") is not None


def test_changed_archive_is_reread(tmp_path, counted_reads):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, "mod_a")
    importer = zipimport.zipimporter(str(archive))
    pydaemon.invalidate_caches(importer)
    assert importer.find_spec("mod_b") is None
    _write_zip(archive, "mod_a", "mod_b")  # a re-shipped addPyFile zip
    counted_reads.clear()
    pydaemon.invalidate_caches(importer)
    assert counted_reads == [str(archive)]
    assert importer.find_spec("mod_b") is not None


def test_unreadable_archive_drops_its_cache_entry(tmp_path, counted_reads):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, "mod_a")
    importer = zipimport.zipimporter(str(archive))
    pydaemon.invalidate_caches(importer)
    archive.write_bytes(b"not a zip archive")
    pydaemon.invalidate_caches(importer)
    assert str(archive) not in zipimport._zip_directory_cache
    assert importer._files == {}


def test_import_installs_nothing():
    assert zipimport.zipimporter.invalidate_caches is not pydaemon.invalidate_caches


@pytest.mark.parametrize("version, patched", [((3, 12, 9), True), ((3, 13, 0), False)])
def test_install_patches_and_stamps_before_3_13(
    tmp_path, counted_reads, monkeypatch, version, patched
):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, "mod_a")
    zipimport.zipimporter(str(archive))
    # Registered so that teardown restores the stock method.
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(sys, "version_info", version)
    pydaemon.install()
    is_patched = zipimport.zipimporter.invalidate_caches is pydaemon.invalidate_caches
    assert is_patched == patched
    assert (str(archive) in pydaemon._stamps) == patched


@pytest.mark.parametrize(
    "master, is_set",
    [
        ("local", True),
        ("local[4]", True),
        ("local[*]", True),
        ("", False),
        ("spark://h:7077", False),
        ("yarn", False),
    ],
)
def test_daemon_conf_is_local_only(master, is_set):
    conf = _daemon_conf(master, [str(REPO_ROOT)])
    assert conf == ({"spark.python.daemon.module": PYTHON_DAEMON_MODULE} if is_set else {})


def test_daemon_conf_needs_the_package_on_the_worker_path(tmp_path):
    assert _daemon_conf("local[4]", [str(tmp_path), ""]) == {}


def _in_one_task(spark, fn):
    return spark.sparkContext.parallelize([0], 1).map(fn).collect()[0]


def test_spark_tasks_fork_from_the_daemon(spark):
    def main_module(_):
        import sys

        return sys.modules["__main__"].__spec__.name

    assert _in_one_task(spark, main_module) == PYTHON_DAEMON_MODULE


def test_task_cache_invalidation_is_cheap(spark):
    """Stock Python < 3.13 re-reads every archive here: ~200 ms of CPU
    on a 4-core box, against well under 1 ms under the daemon."""

    def invalidate_caches_cost(_):
        import importlib
        import sys
        import time

        t0 = time.process_time()
        importlib.invalidate_caches()
        return sys.version_info[:2], time.process_time() - t0

    version, cost = _in_one_task(spark, invalidate_caches_cost)
    if version >= (3, 13):
        pytest.skip("Python 3.13+ zipimport reads lazily; nothing to patch")
    assert cost < 0.020
