"""SparkSession factory tuned for the KG-construction workload.

Defaults follow the scale design in SURVEY.md §4/§7: AQE on (skew-join
splitting + dynamic coalescing), Arrow enabled for every pandas UDF path,
shuffle partitioning sized to the cores in use (on a real cluster
``spark.sql.shuffle.partitions`` scales with executor count; every shuffle
in this engine keys on url-hash so the setting is a pure throughput knob,
not a correctness one).  The Python workers run on the installed
pyspark through :mod:`stanza_spark.worker_daemon`, not on Spark's
``pyspark.zip``: with the zip, every task paid 0.17-0.46 s re-reading
archive directories before its UDF ran.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal, backslashes and quotes
    escaped.  The escapes hold only while
    ``spark.sql.parser.escapedStringLiterals`` is false, which
    :func:`sql` checks before it parses the text."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql(spark: SparkSession, text: str, **frames) -> DataFrame:
    """``spark.sql(text, **frames)`` for SQL text whose string literals
    were rendered by :func:`sql_str`.  A session with
    ``spark.sql.parser.escapedStringLiterals=true`` would keep those
    backslash escapes verbatim and silently change the values, so it
    raises ``ValueError`` instead."""
    if spark.conf.get("spark.sql.parser.escapedStringLiterals",
                      "false").lower() == "true":
        raise ValueError("spark.sql.parser.escapedStringLiterals is true; "
                         "the escaped string literals would change value")
    return spark.sql(text, **frames)


def local_values_df(spark: SparkSession, rows, columns: list[str]):
    """Tiny static dictionary -> DataFrame as a pure-JVM ``VALUES``
    LocalRelation (r7, guide §4 "eliminate the Python boundary").

    ``spark.createDataFrame(list)`` parallelizes the rows through a
    PythonRDD with defaultParallelism partitions: every *use* of the
    dictionary then schedules a cores-wide Python-worker stage just to
    re-emit ~50 constant rows (measured 0.4-2.4 s per query at
    local[32] for the alias dictionary's two broadcast builds).  A
    VALUES relation is a LocalRelation: broadcast builds fold it with
    zero tasks and zero Python workers, at any scale.

    Supports str / int / float / None scalars and flat str lists
    (rendered as ``array(...)``); values are static code data
    (vocab tables), escaped for SQL literals.  An empty ``rows``, a
    non-finite float (``repr`` would render nan/inf as an identifier) and
    a session with ``spark.sql.parser.escapedStringLiterals=true`` (see
    :func:`sql`) raise ``ValueError``."""
    def lit(v):
        if v is None:
            return "CAST(NULL AS STRING)"
        if isinstance(v, str):
            return sql_str(v)
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float) and not math.isfinite(v):
            raise ValueError(
                f"local_values_df: non-finite float {v!r} has no SQL literal")
        if isinstance(v, (int, float)):
            return repr(v)
        if isinstance(v, (list, tuple)):
            return "array(" + ", ".join(lit(x) for x in v) + ")"
        raise TypeError(f"local_values_df: unsupported value {v!r}")

    if not rows:
        raise ValueError("local_values_df: rows is empty; VALUES needs at "
                         "least one row")
    values = ", ".join("(" + ", ".join(lit(v) for v in row) + ")"
                       for row in rows)
    cols = ", ".join(columns)
    return sql(spark, f"SELECT * FROM VALUES {values} AS t({cols})")


def get_spark(app: str = "stanza-spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS",
                                   len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 8)
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # AQE's coalescing floor: with the default 1m floor a byte-light
        # but compute-heavy intermediate shuffle (window/aggregate over a
        # few MB) coalesces to 1-2 partitions and serializes on one core
        # (measured: a 1.1s single-task mention-decode stage at sf0.1
        # while 31 cores idled).  64k keeps small stages spread up to
        # defaultParallelism (parallelismFirst remains on); large
        # shuffles are governed by the advisory size either way, so this
        # only changes byte-light stages at any scale.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "64k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Python workers import pyspark from its installed package rather
        # than Spark's pyspark.zip (see worker_daemon); the daemon imports
        # this package at start, so its parent directory goes on the
        # workers' path whatever the caller's cwd
        .config("spark.python.daemon.module", "stanza_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # heap sized to a 4-vCPU / 15 GB host: the JVM grows its heap a
        # step per job up to this cap, so a larger cap only buys RSS
        # (perfbench curation_dedup at local[4], medians of 5 seeds:
        # peak RSS 4028 MB at 12g vs 1552 MB at 2g, job_s 2.38 vs
        # 2.12 s); the sf0.01 oracle gates and the test suite run in 2g
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"))
        # This VM anti-scales when GC thread pools are sized from the 32
        # vCPUs (G1's concurrent threads + 32 mutator threads interfere
        # catastrophically: measured 4x slowdown on pure map work).
        # Parallel GC capped at 4 threads restores positive scaling.
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseParallelGC -XX:ParallelGCThreads=4")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
