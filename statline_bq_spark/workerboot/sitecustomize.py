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
over the spark-core jar, two over the py4j zip (where those zips stay on
``sys.path``, see "Installed copies" below). That is ~27k zip entries
and 0.2-0.3 s of CPU (2.1 GHz Xeon) per task, planner call or stream-source
start, whatever the data. CPython 3.13 made the re-read lazy.

What: on Python < 3.13, ``zipimporter.invalidate_caches`` keeps an
archive's cached directory while the archive's ``(st_ino, st_size,
st_mtime_ns)`` is what it was when the directory was last read. An archive
that changed, or is not cached, is re-read exactly as before. Archives read
before this module ran are re-read once here, so each has a known stamp
(forked workers inherit it from the daemon).

Installed copies: the JVM puts ``$SPARK_HOME/python/lib/pyspark.zip`` and
the py4j zip first on every worker's ``sys.path``. They hold only ``.py``
sources and zipimport keeps no bytecode cache, so every fresh process
compiles the ~100 pyspark modules it imports (0.6-0.9 s; the per-stream
source runner pays it on every stream start), on every Python version.
Where the same package is installed as a plain directory later on
``sys.path`` with the same ``__version__`` (read from ``version.py`` in both
places), the zip is dropped from ``sys.path`` and its cached importers and
directory are evicted, so the package imports from the installed copy and
its ``__pycache__``. A version mismatch, a missing copy or an unreadable
archive keeps the zip: the JVM's copy wins whenever they differ.

Another ``sitecustomize`` later on ``sys.path`` would be shadowed by this
one; it is imported after the patch, so it still runs.
"""

from __future__ import annotations

import importlib.machinery
import os
import sys
import zipimport


def _archived_package(entry: str) -> str | None:
    """The package a JVM-supplied archive on ``sys.path`` holds, if any."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith("-src.zip"):
        return "py4j"
    return None


def _version(source: bytes) -> str | None:
    """The ``__version__`` a ``version.py`` assigns, as written."""
    for line in source.decode("utf-8", "replace").splitlines():
        name, eq, value = line.partition("=")
        if eq and name.partition(":")[0].strip() == "__version__":
            return value.strip().strip("'\"")
    return None


def _installed_twin(entry: str, package: str, later: list[str]) -> bool:
    """Whether ``package`` in the archive ``entry`` has the same version as
    the copy a plain directory in ``later`` would import instead."""
    spec = importlib.machinery.PathFinder.find_spec(package, later)
    if spec is None or not spec.origin or not os.path.isfile(spec.origin):
        return False  # no copy, or another archive's
    version_py = os.path.join(os.path.dirname(spec.origin), "version.py")
    try:
        with open(version_py, "rb") as f:
            installed = _version(f.read())
        archived = _version(
            zipimport.zipimporter(entry).get_data(f"{package}/version.py")
        )
    except (ImportError, OSError):
        return False
    return installed is not None and installed == archived


def drop_archived_twins() -> None:
    """Drop ``pyspark.zip`` and the py4j zip from ``sys.path`` where the
    same release is installed later on it, with their cached importers and
    directories."""
    path = list(sys.path)
    dropped = [
        entry
        for i, entry in enumerate(path)
        if (package := _archived_package(entry))
        and _installed_twin(entry, package, path[i + 1 :])
    ]
    sys.path[:] = [entry for entry in sys.path if entry not in dropped]
    inside = tuple(entry + os.sep for entry in dropped)
    for key in list(sys.path_importer_cache):
        if key in dropped or key.startswith(inside):
            del sys.path_importer_cache[key]
    for entry in dropped:
        zipimport._zip_directory_cache.pop(entry, None)


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
    drop_archived_twins()  # first: install() re-reads what stays cached
    install()
    _run_next_sitecustomize()
