"""The Python worker bootstrap keeps unchanged zip directories cached.

PySpark calls ``importlib.invalidate_caches()`` before every task, planner
call and stream-source start; up to CPython 3.12 that re-reads the
directory of every zip archive on ``sys.path`` once per importer
(``pyspark.zip``, the spark-core jar, py4j). ``get_spark`` ships
``statline_bq_spark/workerboot/sitecustomize.py`` to the workers, which
re-reads an archive only when its inode, size or mtime changed. The
counter here is host-independent: directory reads per
``invalidate_caches()`` call, counted by wrapping ``zipimport``'s reader.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import SparkSession

from statline_bq_spark.session import WORKER_BOOT_DIR, get_spark

#: From 3.13 the interpreter re-reads a zip directory lazily by itself and
#: the bootstrap patches nothing.
PATCHED = sys.version_info < (3, 13)
needs_patch = pytest.mark.skipif(not PATCHED, reason="Python >= 3.13")

#: Imports ``pkg.a`` from the archive ``argv[1]``, optionally copies the
#: archive ``argv[2]`` over it, then calls ``invalidate_caches()``. Prints
#: whether the archive's directory dict survived and how many directories
#: were read.
_PROBE = """
import importlib, shutil, sys, zipimport
arch = sys.argv[1]
import pkg.a
before = zipimport._zip_directory_cache[arch]
if len(sys.argv) > 2:
    shutil.copyfile(sys.argv[2], arch)
reads = []
read = zipimport._read_directory
zipimport._read_directory = lambda a: reads.append(a) or read(a)
importlib.invalidate_caches()
print(zipimport._zip_directory_cache.get(arch) is before, len(reads))
if len(sys.argv) > 2:
    import pkg.b
    print(pkg.b.NAME)
"""


def _write_zip(path, modules) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pkg/__init__.py", "")
        for name in modules:
            z.writestr(f"pkg/{name}.py", f"NAME = {name!r}\n")
    return str(path)


def _python(*args: str, pythonpath: list[str]) -> list[str]:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(pythonpath))
    out = subprocess.run(
        [sys.executable, *args], env=env, capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.split()


@needs_patch
def test_unchanged_archive_keeps_its_directory(tmp_path):
    # The archive precedes the bootstrap on PYTHONPATH, as pyspark.zip does
    # on a worker's, so its directory is read before the bootstrap runs.
    arch = _write_zip(tmp_path / "lib.zip", ["a"])
    out = _python("-c", _PROBE, arch, pythonpath=[arch, WORKER_BOOT_DIR])
    assert out == ["True", "0"]


@needs_patch
def test_rewritten_archive_is_reread(tmp_path):
    arch = _write_zip(tmp_path / "lib.zip", ["a"])
    grown = _write_zip(tmp_path / "grown.zip", ["a", "b"])
    out = _python("-c", _PROBE, arch, grown, pythonpath=[arch, WORKER_BOOT_DIR])
    # one read for the archive; its other importer reuses the new directory
    assert out == ["False", "1", "b"]


def test_a_later_sitecustomize_still_runs(tmp_path):
    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text("import sys\nsys.other_ran = True\n")
    code = (
        "import sys, zipimport\n"
        "print(getattr(sys, 'other_ran', False),"
        " zipimport.zipimporter.invalidate_caches.__qualname__)"
    )
    out = _python("-c", code, pythonpath=[WORKER_BOOT_DIR, str(other)])
    patch = "install.<locals>." if PATCHED else "zipimporter."
    assert out == ["True", patch + "invalidate_caches"]


def test_bootstrap_is_a_no_op_from_python_3_13():
    spec = importlib.util.spec_from_file_location(
        "statline_worker_boot", os.path.join(WORKER_BOOT_DIR, "sitecustomize.py")
    )
    boot = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(boot)  # not named sitecustomize: patches nothing
    invalidate = zipimport.zipimporter.invalidate_caches
    read = zipimport._read_directory
    assert boot.install((3, 13)) is False
    assert zipimport.zipimporter.invalidate_caches is invalidate
    assert zipimport._read_directory is read


def test_local_sessions_merge_the_bootstrap_into_worker_pythonpath(monkeypatch):
    monkeypatch.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self._options)
    key = "spark.executorEnv.PYTHONPATH"
    assert get_spark(master="local[1]")[key] == WORKER_BOOT_DIR
    caller = {key: os.pathsep.join(["/opt/a", "/opt/b"])}
    assert get_spark(master="local[1]", extra_conf=caller)[key] == os.pathsep.join(
        [WORKER_BOOT_DIR, "/opt/a", "/opt/b"]
    )
    # cluster sessions are configured as before
    assert key not in get_spark(master="spark://cluster:7077")
    assert get_spark(master="spark://cluster:7077", extra_conf=caller)[key] == caller[key]


@needs_patch
def test_workers_and_planners_keep_unchanged_archives(spark):
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
    from pyspark.sql.functions import udf

    schema = "archives int, kept int, reads int"

    # Defined here so that it pickles by value to the Python processes.
    def probe() -> tuple[int, int, int]:
        """(archives cached, archives whose directory dict survived,
        directory reads) for one ``invalidate_caches()`` call."""
        import importlib
        import zipimport

        before = dict(zipimport._zip_directory_cache)
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        cache = zipimport._zip_directory_cache
        kept = sum(cache.get(a) is files for a, files in before.items())
        return len(before), kept, len(reads)

    class Reader(DataSourceReader):
        def partitions(self):  # runs in the planner process
            return [InputPartition(probe())]

        def read(self, partition):
            yield partition.value

    class Probe(DataSource):
        @classmethod
        def name(cls):
            return "zip_directory_probe"

        def schema(self):
            return schema

        def reader(self, schema):
            return Reader()

    spark.dataSource.register(Probe)
    planner = tuple(spark.read.format("zip_directory_probe").load().first())
    task = tuple(
        spark.range(1).select(udf(lambda _: probe(), schema)("id").alias("p"))
        .select("p.*")
        .first()
    )
    for archives, kept, reads in (planner, task):
        assert archives >= 1  # at least the spark-core jar is on the path
        assert (kept, reads) == (archives, 0)
