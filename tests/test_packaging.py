"""Stat-checked zip-import invalidation (``packaging.install_zipimport_stat_check``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; on CPython < 3.13 each zipimporter then re-reads its archive's
central directory. The installed wrapper must skip that re-read while
an archive is unchanged on disk and still pick up a changed archive.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from ai_log_analyzer_spark import packaging

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 zipimport invalidates lazily; the fix is a no-op")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding ``modA`` on sys.path, plus a counter of directory
    reads of that archive."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["modA"])
    reads = []
    orig = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return orig(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    sys.path.insert(0, archive)
    try:
        yield archive, reads
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("modA", "modB"):
            sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    packaging.install_zipimport_stat_check()
    import modA
    assert modA.NAME == "modA"
    importlib.invalidate_caches()      # first invalidation records a stamp
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    # the skip path points the importer at the shared cached directory
    importer = sys.path_importer_cache[archive]
    assert importer._files is zipimport._zip_directory_cache[archive]


def test_changed_archive_is_reread(zip_on_path):
    archive, reads = zip_on_path
    packaging.install_zipimport_stat_check()
    import modA  # noqa: F401
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        import modB  # noqa: F401
    _write_zip(archive, ["modA", "modB"])
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [archive]
    import modB
    assert modB.NAME == "modB"


def test_deleted_archive_does_not_raise(zip_on_path):
    archive, _reads = zip_on_path
    packaging.install_zipimport_stat_check()
    import modA  # noqa: F401
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[archive]._files == {}


def test_install_is_idempotent():
    packaging.install_zipimport_stat_check()
    packaging.install_zipimport_stat_check()
    wrapper = zipimport.zipimporter.invalidate_caches
    assert hasattr(wrapper, "__wrapped__")
    assert not hasattr(wrapper.__wrapped__, "__wrapped__")


def test_reused_worker_tasks_read_no_zip_directory(spark):
    """Each task of a reused Python worker reports the zip directory reads
    since that worker's previous task; every task after a worker's first
    must report none (without the fix: ~16 per task)."""
    import pandas as pd

    def fn(batches):
        import os
        import zipimport

        import ai_log_analyzer_spark  # noqa: F401  (installs the fix)
        counter = getattr(zipimport, "_reads_counter", None)
        first = counter is None
        if first:
            counter = zipimport._reads_counter = [0, 0]  # total, at last task
            orig = zipimport._read_directory

            def counting(path):
                counter[0] += 1
                return orig(path)
            zipimport._read_directory = counting
        reads, counter[1] = counter[0] - counter[1], counter[0]
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "first": [first],
                            "reads": [reads]})

    out = (spark.range(0, 32, numPartitions=32)
           .mapInPandas(fn, "pid long, first boolean, reads long")
           .toPandas())
    assert len(out) == 32
    assert out.groupby("pid").size().max() >= 2, "no Python worker was reused"
    later = out[~out["first"]]
    assert not later.empty
    assert (later["reads"] == 0).all(), later.to_string()
