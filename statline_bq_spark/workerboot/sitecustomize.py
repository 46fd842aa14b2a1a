"""Start-up hook for the Python processes Spark starts (local mode).

``session.get_spark`` puts this directory on ``spark.executorEnv.PYTHONPATH``,
so every daemon, worker and data-source planner the JVM launches imports
this module at start-up, as ``site`` does with any ``sitecustomize``. The
directory holds nothing else, so it shadows no other module (for another
``sitecustomize``, see the end of this docstring).

Why: before a task runs, PySpark's worker calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``). Up to
CPython 3.12, that re-reads the whole directory of every zip archive on
``sys.path``, eagerly, once per ``zipimporter`` that covers it: a dozen
importers over ``pyspark.zip`` (one per package imported from it), two
over the spark-core jar, two over the py4j zip. That is ~27k zip entries
and 0.2-0.3 s of CPU (2.1 GHz Xeon) per task, planner call or stream-source
start, whatever the data. CPython 3.13 made the re-read lazy.

What: on Python < 3.13, ``zipimporter.invalidate_caches`` keeps an
archive's cached directory while the archive's ``(st_ino, st_size,
st_mtime_ns)`` is what it was when the directory was last read. An archive
that changed, or is not cached, is re-read exactly as before. Archives read
before this module ran are re-read once here, so each has a known stamp
(forked workers inherit it from the daemon).

Another ``sitecustomize`` later on ``sys.path`` would be shadowed by this
one; it is imported after the patch, so it still runs.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install(version_info: tuple = sys.version_info) -> bool:
    """Patch ``zipimport``; False where the interpreter needs no patch."""
    if version_info >= (3, 13) or not hasattr(zipimport, "_read_directory"):
        return False
    read = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches
    # archive -> its stamp, taken before its directory was last read
    stamps: dict[str, tuple[int, int, int]] = {}

    def _read_directory(archive):
        # Stat first: a write during the read leaves a stale stamp, which
        # only causes one more re-read.
        stamp = _stamp(archive)
        files = read(archive)
        if stamp is not None:
            stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if (
            files is not None
            and stamp is not None
            and stamps.get(self.archive) == stamp
        ):
            self._files = files
        else:
            reread(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # Archives read before the patch have no stamp: read them once more.
    for archive in list(zipimport._zip_directory_cache):
        try:
            zipimport._zip_directory_cache[archive] = _read_directory(archive)
        except zipimport.ZipImportError:
            zipimport._zip_directory_cache.pop(archive, None)
    return True


def _run_next_sitecustomize() -> None:
    """Import the ``sitecustomize`` this one shadows, if there is one."""
    import importlib.machinery
    import importlib.util

    here = os.path.dirname(os.path.abspath(__file__))
    paths = [os.path.abspath(p or os.curdir) for p in sys.path]
    if here not in paths:
        return
    later = sys.path[paths.index(here) + 1 :]
    spec = importlib.machinery.PathFinder.find_spec("sitecustomize", later)
    if spec is None:
        return
    module = importlib.util.module_from_spec(spec)
    sys.modules["sitecustomize"] = module
    spec.loader.exec_module(module)


if __name__ == "sitecustomize":
    install()
    _run_next_sitecustomize()
