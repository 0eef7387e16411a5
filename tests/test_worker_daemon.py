"""The Python workers run on the installed pyspark, not on Spark's
``pyspark.zip``: ``stanza_spark.worker_daemon`` drops Spark's archives
from the worker path when the installed pyspark is the archive's
version, so no ``zipimporter`` is left for ``importlib.invalidate_caches``
to re-read at the start of every task."""

import os
import subprocess
import sys
import zipfile

from tests.conftest import REPO
from stanza_spark.worker_daemon import worker_path

_WORKER_STATE = "pyspark string, zips string, invalidate_ms double"


def _worker_state():
    """A ``mapInPandas`` function (nested, so it pickles by value) that
    yields one row from inside a Python task: where pyspark was imported
    from, the archives of the ``zipimporter`` finders outside the files
    the session ships itself (``addPyFile``), and the time of one
    ``importlib.invalidate_caches()``."""
    def state(batches):
        import importlib
        import json
        import time
        import zipimport

        import pandas as pd
        import pyspark
        from pyspark import SparkFiles

        shipped = SparkFiles.getRootDirectory()
        zips = sorted(f.archive for f in sys.path_importer_cache.values()
                      if isinstance(f, zipimport.zipimporter)
                      and not f.archive.startswith(shipped))
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1e3
        for _ in batches:
            pass
        yield pd.DataFrame({"pyspark": [pyspark.__file__],
                            "zips": [json.dumps(zips)],
                            "invalidate_ms": [ms]})
    return state


def _is_archive_path(p):
    """True when some leading part of ``p`` is a regular file."""
    while p and p != os.path.dirname(p):
        if os.path.isfile(p) and not p.endswith(".py"):
            return True
        p = os.path.dirname(p)
    return False


def test_workers_hold_no_spark_archive(spark):
    """(a) pyspark comes from the installed package and no finder over
    Spark's archives is left in the worker (16 with the zip)."""
    row = spark.range(1, numPartitions=1).mapInPandas(
        _worker_state(), _WORKER_STATE).collect()[0]
    print(f"worker invalidate_caches: {row.invalidate_ms:.3f} ms")
    assert not _is_archive_path(row.pyspark), row.pyspark
    assert row.zips == "[]"


def _fake_install(root, archived=b"__version__ = '4.1.2'\n",
                  installed=b"__version__ = '4.1.2'\n", py4j_dir=True):
    """A Spark-style worker path over files under ``root``: cwd, the
    three archives, then a site directory holding pyspark (and py4j)."""
    lib, jars, site = root / "lib", root / "jars", root / "site"
    for d in (lib, jars, site / "pyspark"):
        d.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", archived)
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    with zipfile.ZipFile(jars / "spark-core_2.13-4.1.2.jar", "w") as z:
        z.writestr("org/apache/spark/SparkContext.class", "")
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_bytes(installed)
    if py4j_dir:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    return [str(root), str(lib / "pyspark.zip"),
            str(lib / "py4j-0.10.9.9-src.zip"),
            str(jars / "spark-core_2.13-4.1.2.jar"), str(site)]


def test_matching_versions_drop_the_archives(tmp_path):
    path = _fake_install(tmp_path)
    assert worker_path(path) == [path[0], path[4]]


def test_version_mismatch_keeps_the_path(tmp_path):
    path = _fake_install(tmp_path, installed=b"__version__ = '4.1.1'\n")
    assert worker_path(path) == path


def test_no_directory_py4j_keeps_the_path(tmp_path):
    path = _fake_install(tmp_path, py4j_dir=False)
    assert worker_path(path) == path


def test_daemon_starts_from_a_foreign_cwd(tmp_path):
    """(c) A driver outside the repo with an empty PYTHONPATH runs one
    ``mapInPandas`` through ``get_spark``: the daemon module imports
    from any cwd, and its worker runs on the installed pyspark."""
    code = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from stanza_spark.session import get_spark\n"
        "from tests.test_worker_daemon import _WORKER_STATE, _worker_state\n"
        "spark = get_spark('foreign-cwd', cores=1, shuffle_partitions=1,\n"
        "    extra={'spark.ui.showConsoleProgress': 'false'})\n"
        "row = spark.range(1, numPartitions=1).mapInPandas(\n"
        "    _worker_state(), _WORKER_STATE).collect()[0]\n"
        "spark.stop()\n"
        "print('PYSPARK', row.pyspark)\n"
        "print('ZIPS', row.zips)\n")
    proc = subprocess.run([sys.executable, "-c", code], cwd=tmp_path,
                          capture_output=True, text=True, timeout=600,
                          env={**os.environ, "PYTHONPATH": ""})
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    lines = dict(ln.split(" ", 1) for ln in proc.stdout.splitlines()
                 if ln.startswith(("PYSPARK ", "ZIPS ")))
    assert not _is_archive_path(lines["PYSPARK"]), lines
    assert lines["ZIPS"] == "[]", lines
