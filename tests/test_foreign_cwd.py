"""Results must not depend on the caller's working directory.  The
workers of a ``get_spark`` session import the package from the checkout
(``spark.executorEnv.PYTHONPATH``); for a session not made by
``get_spark``, ``__spark_entry__`` ships the package to the Python workers
as a zip and they import it from there, so every module that reads a
committed resource has to read it through the package loader, not a path
built from ``__file__`` (which then points inside the zip)."""

import os
import pathlib
import subprocess
import sys

from tests.conftest import REPO, SF_SMOKE


def test_resource_gates_pass_from_a_foreign_cwd(tmp_path):
    """One coref gate and kg_learned_decode (both read JSON weights)
    through ``__spark_entry__.queries()``, checked against their DuckDB
    oracles by tools/check_oracles.py, run from outside the repo."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_oracles.py"),
         SF_SMOKE, "kg_coref_chains", "kg_learned_decode"],
        cwd=tmp_path, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    assert "all gates OK" in proc.stdout


def test_resource_modules_import_from_a_zip(tmp_path):
    """Both weight-reading modules import from the zipped package alone
    (the executor-side view) — coref included, whose Catalyst plans no
    longer import it on the workers."""
    import shutil
    zpath = shutil.make_archive(str(tmp_path / "stanza_spark"), "zip",
                                root_dir=REPO, base_dir="stanza_spark")
    code = (
        "import sys\n"
        f"sys.path = [{zpath!r}] + [p for p in sys.path\n"
        f"    if p not in ('', {REPO!r})]\n"
        "from stanza_spark.operators import coref, learned\n"
        "assert coref.__file__.startswith(sys.path[0]), coref.__file__\n"
        "assert coref._CW and learned.TAGS\n")
    proc = subprocess.run([sys.executable, "-c", code], cwd=tmp_path,
                          capture_output=True, text=True, timeout=300,
                          env={**os.environ, "PYTHONPATH": ""})
    assert proc.returncode == 0, proc.stderr[-4000:]


def test_shipped_package_zip_is_removed_at_exit(tmp_path):
    """A session not made by ``get_spark`` gets the package zipped into a
    temp dir; the dir is gone once the interpreter exits."""
    code = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "import __spark_entry__\n"
        "added = []\n"
        "class Conf:\n"
        "    def get(self, key, default=None):\n"
        "        return default\n"
        "class Context:\n"
        "    def getConf(self):\n"
        "        return Conf()\n"
        "    def addPyFile(self, path):\n"
        "        added.append(path)\n"
        "class Session:\n"
        "    sparkContext = Context()\n"
        "__spark_entry__._ensure_package(Session())\n"
        "print(added[0])\n")
    proc = subprocess.run([sys.executable, "-c", code], cwd=tmp_path,
                          capture_output=True, text=True, timeout=300,
                          env={**os.environ, "TMPDIR": str(tmp_path)})
    assert proc.returncode == 0, proc.stderr[-4000:]
    zpath = proc.stdout.split()[-1]
    assert zpath.startswith(str(tmp_path)) and zpath.endswith(".zip")
    assert list(tmp_path.glob("stanza-spark-pkg-*")) == []


def test_no_tracked_python_file_hard_codes_the_checkout_path():
    """Every tracked .py file finds the repo relative to itself, so no
    file spells out the absolute path of the checkout it runs from."""
    files = subprocess.run(["git", "ls-files", "*.py"], cwd=REPO,
                           capture_output=True, text=True,
                           check=True).stdout.split()
    assert files
    offenders = [f for f in files if REPO in pathlib.Path(
        REPO, f).read_text(encoding="utf-8")]
    assert offenders == []
