"""The Python worker bootstrap keeps unchanged zip directories cached.

PySpark calls ``importlib.invalidate_caches()`` before every task, planner
call and stream-source start; up to CPython 3.12 that re-reads the
directory of every zip archive on ``sys.path`` once per importer
(``pyspark.zip``, the spark-core jar, py4j). ``get_spark`` ships
``statline_bq_spark/workerboot/sitecustomize.py`` to the workers, which
re-reads an archive only when its inode, size or mtime changed. The
counter here is host-independent: directory reads per
``invalidate_caches()`` call, counted by wrapping ``zipimport``'s reader.

The bootstrap also drops ``pyspark.zip`` and the py4j zip from
``sys.path`` where the same release is installed as a plain directory
later on it, so no process compiles pyspark from the archive's sources.
Its counter: modules loaded by a ``zipimporter`` (over 100 per process
before, 0 after).
"""

from __future__ import annotations

import importlib.util
import json
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


#: Run under ``python -S`` (no site-packages, so the installed pyspark and
#: py4j are out of sight; the bootstrap is imported by hand): imports
#: ``pyspark`` and ``py4j`` and reports where each came from, how many
#: loaded modules a zipimporter loaded, and for each archive in ``argv``
#: whether it is still on ``sys.path``, in ``sys.path_importer_cache`` and
#: in ``zipimport._zip_directory_cache``.
_TWIN_PROBE = """
import sitecustomize
import json, sys, zipimport
import pyspark, py4j
modules = list(sys.modules.values())
print(json.dumps({
    "pyspark": pyspark.__file__,
    "py4j": py4j.__file__,
    "zipped": sum(
        isinstance(getattr(m, "__loader__", None), zipimport.zipimporter)
        for m in modules
    ),
    "kept": [
        [a in sys.path, a in sys.path_importer_cache,
         a in zipimport._zip_directory_cache]
        for a in sys.argv[1:]
    ],
}))
"""


def _release(root, name: str, version: str, archive: str | None = None) -> str:
    """A package ``name`` at ``version``, zipped into ``root/archive`` or,
    without ``archive``, as a plain directory under ``root``."""
    files = {
        f"{name}/__init__.py": "from .version import __version__\n",
        f"{name}/version.py": f"__version__: str = {version!r}\n",
    }
    if archive is None:
        for rel, text in files.items():
            (root / rel).parent.mkdir(parents=True, exist_ok=True)
            (root / rel).write_text(text)
        return str(root)
    with zipfile.ZipFile(root / archive, "w") as z:
        for rel, text in files.items():
            z.writestr(rel, text)
    return str(root / archive)


def _twin_probe(*archives: str, pythonpath: list[str]) -> dict:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(pythonpath))
    out = subprocess.run(
        [sys.executable, "-S", "-c", _TWIN_PROBE, *archives],
        env=env, capture_output=True, text=True,
    )
    assert out.returncode == 0, out.stderr
    return json.loads(out.stdout)


@pytest.fixture
def spark_home_zips(tmp_path):
    """pyspark.zip 4.0.0 and py4j-0.1-src.zip 0.1, as SPARK_HOME ships them."""
    lib = tmp_path / "lib"
    lib.mkdir()
    return (
        _release(lib, "pyspark", "4.0.0", "pyspark.zip"),
        _release(lib, "py4j", "0.1", "py4j-0.1-src.zip"),
    )


def test_matching_installed_copies_replace_the_archives(tmp_path, spark_home_zips):
    site = tmp_path / "site"
    _release(site, "pyspark", "4.0.0")
    _release(site, "py4j", "0.1")
    # The archives precede the bootstrap, as on a worker's sys.path.
    out = _twin_probe(
        *spark_home_zips, pythonpath=[*spark_home_zips, WORKER_BOOT_DIR, str(site)]
    )
    assert out["pyspark"] == str(site / "pyspark" / "__init__.py")
    assert out["py4j"] == str(site / "py4j" / "__init__.py")
    assert out["zipped"] == 0
    assert out["kept"] == [[False, False, False], [False, False, False]]


def test_a_version_mismatch_keeps_the_archive(tmp_path, spark_home_zips):
    site = tmp_path / "site"
    _release(site, "pyspark", "4.0.1")  # another release than SPARK_HOME's
    _release(site, "py4j", "0.1")
    pyspark_zip, py4j_zip = spark_home_zips
    out = _twin_probe(
        *spark_home_zips, pythonpath=[*spark_home_zips, WORKER_BOOT_DIR, str(site)]
    )
    assert out["pyspark"] == os.path.join(pyspark_zip, "pyspark", "__init__.py")
    assert out["py4j"] == str(site / "py4j" / "__init__.py")
    assert out["zipped"] == 2  # pyspark and pyspark.version
    assert out["kept"] == [[True, True, True], [False, False, False]]


def test_archives_without_an_installed_copy_stay(spark_home_zips):
    pyspark_zip, py4j_zip = spark_home_zips
    out = _twin_probe(
        *spark_home_zips, pythonpath=[*spark_home_zips, WORKER_BOOT_DIR]
    )
    assert out["pyspark"] == os.path.join(pyspark_zip, "pyspark", "__init__.py")
    assert out["py4j"] == os.path.join(py4j_zip, "py4j", "__init__.py")
    assert out["zipped"] == 4
    assert out["kept"] == [[True, True, True], [True, True, True]]


def test_an_unreadable_archive_stays(tmp_path):
    lib = tmp_path / "lib"
    lib.mkdir()
    (lib / "pyspark.zip").write_bytes(b"not a zip archive")
    site = tmp_path / "site"
    _release(site, "pyspark", "4.0.0")
    _release(site, "py4j", "0.1")
    broken = str(lib / "pyspark.zip")
    out = _twin_probe(broken, pythonpath=[broken, WORKER_BOOT_DIR, str(site)])
    assert out["kept"][0][0] is True  # still on sys.path
    assert out["pyspark"] == str(site / "pyspark" / "__init__.py")


def test_other_archives_are_left_alone(tmp_path):
    lib = tmp_path / "lib"
    lib.mkdir()
    other = _release(lib, "pyspark", "4.0.0", "pyspark-4.0.0.zip")
    vendored = _release(lib, "py4j", "0.1", "py4j.zip")
    site = tmp_path / "site"
    _release(site, "pyspark", "4.0.0")
    _release(site, "py4j", "0.1")
    out = _twin_probe(
        other, vendored, pythonpath=[other, vendored, WORKER_BOOT_DIR, str(site)]
    )
    assert out["pyspark"] == os.path.join(other, "pyspark", "__init__.py")
    assert out["py4j"] == os.path.join(vendored, "py4j", "__init__.py")
    assert out["kept"] == [[True, True, True], [True, True, True]]


def _in_python_processes(spark, name: str, schema: str, probe) -> dict:
    """One row of ``probe()`` from each kind of Python process Spark starts:
    a data-source planner (``partitions()``), a UDF worker, and the
    per-stream source runner (``initialOffset()``). ``probe`` must be a
    local function, so that it pickles by value."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
        SimpleDataSourceStreamReader,
    )
    from pyspark.sql.functions import udf

    class Reader(DataSourceReader):
        def partitions(self):  # runs in the planner process
            return [InputPartition(probe())]

        def read(self, partition):
            yield partition.value

    class StreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):  # runs in the stream's source runner
            return {"probe": list(probe()), "read": False}

        def read(self, start):
            if start["read"]:
                return [], start
            return self.readBetweenOffsets(start, None), dict(start, read=True)

        def readBetweenOffsets(self, start, end):
            return [tuple(start["probe"])]

    class Probe(DataSource):
        @classmethod
        def name(cls):
            return name

        def schema(self):
            return schema

        def reader(self, schema):
            return Reader()

        def simpleStreamReader(self, schema):
            return StreamReader()

    spark.dataSource.register(Probe)
    planner = tuple(spark.read.format(name).load().first())
    task = tuple(
        spark.range(1).select(udf(lambda _: probe(), schema)("id").alias("p"))
        .select("p.*")
        .first()
    )
    query = (
        spark.readStream.format(name).load()
        .writeStream.format("memory").queryName(name)
        .trigger(availableNow=True).start()
    )
    query.awaitTermination(120)
    stream = tuple(spark.table(name).first())
    return {"planner": planner, "task": task, "stream": stream}


@needs_patch
def test_workers_and_planners_keep_unchanged_archives(spark):
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

    seen = _in_python_processes(spark, "zip_directory_probe", schema, probe)
    for archives, kept, reads in seen.values():
        assert archives >= 1  # at least the spark-core jar is on the path
        assert (kept, reads) == (archives, 0)


def test_python_processes_import_the_installed_pyspark(spark):
    # SPARK_HOME's pyspark.zip matches the installed release, so no Python
    # process Spark starts compiles pyspark from the archive.
    def probe() -> tuple[str, int]:
        """(pyspark's file, modules loaded by a zipimporter)."""
        import sys
        import zipimport

        import pyspark

        modules = list(sys.modules.values())
        zipped = [
            m for m in modules
            if isinstance(getattr(m, "__loader__", None), zipimport.zipimporter)
        ]
        return pyspark.__file__, len(zipped)

    schema = "file string, zipped int"
    seen = _in_python_processes(spark, "installed_pyspark_probe", schema, probe)
    for process, (file, zipped) in seen.items():
        assert os.path.isfile(file), (process, file)  # not inside an archive
        assert zipped == 0, process
