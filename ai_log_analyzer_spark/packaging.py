"""spark-submit --py-files packaging (north rule; SURVEY.md §7 M6).

``package_zip()`` builds the exact artifact you would pass to
``spark-submit --py-files``; ``build_session`` ships it via
``addPyFile`` so executor Python workers can import the package no
matter what the driver's cwd is — identical mechanics on a real
multi-executor cluster and in local mode.

``install_zipimport_stat_check()`` runs when the package is imported, so
every Python worker that unpickles an engine UDF installs it on its
first task. Before each task PySpark's worker calls
``importlib.invalidate_caches()``; on CPython < 3.13 every zipimporter
then re-reads its archive's whole central directory (pyspark.zip: 1,328
entries, ~16 importers per worker: ~0.3 s of CPU per task). The
installed wrapper re-reads an archive only when its ``os.stat`` stamp
changed since the last read.
"""

from __future__ import annotations

import functools
import os
import sys
import zipfile
import zipimport

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_PKG_NAME = os.path.basename(_PKG_DIR)


def package_zip(out_path: str | None = None) -> str:
    if out_path is None:
        import tempfile
        out_path = os.path.join(tempfile.gettempdir(),
                                f"{_PKG_NAME}-pyfiles.zip")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(_PKG_NAME, os.path.relpath(full, _PKG_DIR))
                zf.write(full, rel)
    return out_path


def install_zipimport_stat_check() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    it changed on disk. Idempotent; a no-op on CPython >= 3.13, whose
    ``invalidate_caches`` is already lazy."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if hasattr(reread, "__wrapped__"):
        return
    stamps = {}  # archive -> os.stat stamp taken just before its last read

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files  # importers of one archive share one table
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # archives already cached were read at an unknown time: read each once
    # now, so the next task's invalidation finds a stamp and skips
    for archive in list(zipimport._zip_directory_cache):
        try:
            zipimport.zipimporter(archive).invalidate_caches()
        except zipimport.ZipImportError:
            pass
