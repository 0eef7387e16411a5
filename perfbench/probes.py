"""Measurements taken from outside the program: Spark's own status stores,
resident memory from /proc, spans around public calls, and provenance.

Nothing here changes what the program computes; it only reads the status
stores Spark keeps anyway (they work with ``spark.ui.enabled=false``).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import platform
import re
import subprocess
import threading
import time

MB = 1024 * 1024

# --- Spark status stores -----------------------------------------------------


class SparkCounters:
    """Per-job counters from ``AppStatusStore.stageList`` (engine layer) and
    the SQL status store's plan-node metrics (Python boundary, executions)."""

    def __init__(self, spark, cores: int):
        self.cores = cores
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _stages(self):
        seq = self._store.stageList(None, False, False, self._no_quantiles,
                                    None)
        return [seq.apply(i) for i in range(seq.size())]

    def _executions(self):
        seq = self._sql.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> tuple[int, int]:
        """Highest stage id and SQL execution id seen so far."""
        stages = [s.stageId() for s in self._stages()]
        execs = [e.executionId() for e in self._executions()]
        return max(stages, default=-1), max(execs, default=-1)

    def engine(self, since: tuple[int, int], wall_s: float) -> dict:
        """Engine counters over the completed stages after ``since``."""
        run_ms = gc_ms = tasks = shuffle_w = spill = out_b = 0
        for s in self._stages():
            if s.stageId() <= since[0] or s.status().toString() != "COMPLETE":
                continue
            run_ms += s.executorRunTime()
            gc_ms += s.jvmGcTime()
            tasks += s.numTasks()
            shuffle_w += s.shuffleWriteBytes()
            spill += s.diskBytesSpilled()
            out_b += s.outputBytes()
        return {
            "spark.busy_share": run_ms / 1000 / (wall_s * self.cores),
            "spark.tasks": tasks,
            "spark.shuffle_write_mb": shuffle_w / MB,
            "spark.spill_mb": spill / MB,
            "spark.gc_s": gc_ms / 1000,
            "output_mb": out_b / MB,
        }

    def executions(self, since: tuple[int, int]) -> list[dict]:
        """SQL executions after ``since``: id, duration, plan text and the
        summed Python-worker node metrics of each."""
        out = []
        for e in self._executions():
            eid = e.executionId()
            if eid <= since[1]:
                continue
            done = e.completionTime()
            end_ms = done.get().getTime() if done.isDefined() else None
            out.append({
                "id": eid,
                "seconds": (None if end_ms is None
                            else (end_ms - e.submissionTime()) / 1000),
                "plan": e.physicalPlanDescription(),
                **self._python_metrics(eid),
            })
        return out

    def _python_metrics(self, eid: int) -> dict:
        """Sum the metrics of every plan node that runs Python workers
        (MapInPandas, MapInArrow, ArrowEvalPython, ...)."""
        values = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes()
        tot = {"python_s": 0.0, "python_in_mb": 0.0, "python_out_mb": 0.0}
        names = {"time to run Python workers": ("python_s", 1.0),
                 "data sent to Python workers": ("python_in_mb", 1 / MB),
                 "data returned from Python workers": ("python_out_mb",
                                                       1 / MB)}
        for i in range(nodes.size()):
            metrics = nodes.apply(i).metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() not in names:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    key, scale = names[m.name()]
                    tot[key] += parse_metric(v.get()) * scale
        return tot


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": MB * MB}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``9 ms``, ``80.2 KiB``, ``10,000``
    or ``total (min, med, max ...)\\n9.7 s (...)`` -> seconds / bytes."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


# --- resident memory ---------------------------------------------------------


class RssSampler:
    """Samples the summed RSS of a process and all its descendants (the JVM
    and the Python workers it forks) on a background thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root = root_pid
        self.interval = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss_mb(self) -> float:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended between glob and open
                continue
            pid = int(stat.split("/")[2])
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21])
        total, todo = 0, [self.root]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total * os.sysconf("SC_PAGE_SIZE") / MB

    def _loop(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, self._tree_rss_mb())


# --- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, parent, start, end) around calls into the
    program's public functions; written out once, at the end of the run."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack
               else None, "start": time.time(), "end": None}
        self._stack.append(name)
        self.spans.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)


# --- provenance --------------------------------------------------------------


def source_hash(root: str) -> str:
    """sha256 over the program's Python sources (the checkout the benchmark
    runs in is not a git repository)."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "stanza_spark", "**", "*.py"),
                             recursive=True))
    for path in files + [os.path.join(root, "__spark_entry__.py")]:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_revision(root: str) -> str | None:
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    if r.returncode != 0:
        return None
    return r.stdout.strip() or None


def provenance(root: str, spark, load_before: list[float]) -> dict:
    import pyspark
    conf = dict(spark.sparkContext.getConf().getAll())
    keep = ("spark.master", "spark.driver.memory", "spark.driver.extraJava",
            "spark.sql.", "spark.default.parallelism")
    return {
        "git_revision": git_revision(root),
        "source_sha256": source_hash(root),
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": load_before,
        "spark_conf": {k: v for k, v in sorted(conf.items())
                       if k.startswith(keep)},
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]
