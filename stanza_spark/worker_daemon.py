"""Python worker daemon that runs pyspark from its installed package.

Spark starts its Python daemon with three archives first on
``PYTHONPATH``: ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and
the spark-core jar.  The workers then import pyspark from the zip, and
each imported pyspark subpackage leaves a ``zipimporter`` in
``sys.path_importer_cache`` (16 of them, with the jar's).  pyspark's
worker calls ``importlib.invalidate_caches()`` at the start of every
task, and on Python 3.11 a ``zipimporter`` re-reads its whole archive
directory there: 0.17-0.46 s per task at local[4] on a 4-vCPU host,
against a 2 ms no-op ``mapInPandas`` body.

Run as the daemon (``session.get_spark`` sets
``spark.python.daemon.module`` to this module), it drops the archives
from ``sys.path`` and their finders from ``sys.path_importer_cache``
when the installed pyspark is the archive's version, then starts
``pyspark.daemon``.  The workers it forks hold no ``zipimporter`` and
one ``invalidate_caches()`` takes about 0.2 ms.  Nothing here imports
pyspark before the path is fixed.
"""

from __future__ import annotations

import os
import sys
import zipfile


def _spark_archive(entry: str) -> bool:
    """True for Spark's own archives on the worker path, named as
    Spark's ``PythonUtils.sparkPythonPath`` names them."""
    name = os.path.basename(entry)
    return os.path.isfile(entry) and (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or (name.startswith("spark-core") and name.endswith(".jar")))


def _package_dir(path: list[str], name: str) -> str | None:
    """Package ``name``'s directory under the first directory entry of
    ``path`` that holds it, or None."""
    for entry in path:
        pkg = os.path.join(entry, name)
        if os.path.isdir(entry) and os.path.isfile(
                os.path.join(pkg, "__init__.py")):
            return pkg
    return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when ``pyspark`` and ``py4j``
    both resolve from a directory entry of the rest of it and that
    pyspark's ``version.py`` equals the archive's; otherwise ``path``
    unchanged."""
    archives = [e for e in path if _spark_archive(e)]
    rest = [e for e in path if e not in archives]
    zips = [e for e in archives if os.path.basename(e) == "pyspark.zip"]
    pyspark = _package_dir(rest, "pyspark")
    if not zips or pyspark is None or _package_dir(rest, "py4j") is None:
        return list(path)
    try:
        with zipfile.ZipFile(zips[0]) as z:
            archived = z.read("pyspark/version.py")
        with open(os.path.join(pyspark, "version.py"), "rb") as f:
            installed = f.read()
    except (KeyError, OSError, zipfile.BadZipFile):
        return list(path)
    return rest if installed == archived else list(path)


if __name__ == "__main__":
    kept = worker_path(sys.path)
    dropped = [e for e in sys.path if e not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == e or key.startswith(e + os.sep) for e in dropped):
            del sys.path_importer_cache[key]
    # pyspark.daemon reads the worker module from argv[1] at import
    from pyspark import daemon
    daemon.manager()
