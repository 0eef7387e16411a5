"""The ``pages`` source table (url, warc_ts, html, text, lang).

Shape fixed by BASELINE.json ``input_hint``.  Content is synthesized
deterministically from the driver's ``documents`` parquet (doc_id/source/lang
drive pure modular arithmetic — see :mod:`stanza_spark.synth`), entirely with
JVM-side Catalyst expressions: no UDF, no RNG, no external data.

``html`` is a binary column wrapping ``text`` in deterministic boilerplate
(nav/script/footer) so that boilerplate-stripping (`operators.html`) is a
real, byte-exact-testable stage (north rule: byte-identical extracted text
per url).  At 100 TB this generation is embarrassingly parallel and
shuffle-free: one narrow projection per input split.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..synth import Dialect, pages_text_expr, url_expr
from ..operators.html import wrap_html_expr

_SPARK = Dialect("spark")

WARC_EPOCH = 1704067200  # 2024-01-01T00:00:00Z


#: the ``documents`` input, as every corpus in the repo is written
DOCUMENTS_SCHEMA = ("doc_id bigint, text string, lang string, source string, "
                    "n_chars bigint")
_ARROW_TYPES = {"bigint": pa.int64(), "string": pa.string()}


def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sf_dir/documents.parquet`` (one file or a directory of parts)
    read with :data:`DOCUMENTS_SCHEMA`.

    A declared schema spares the one-task Spark job that schema inference
    runs just to read the footer: with the footer check below, this read
    builds in a median 17 ms instead of 91 ms, and ``pages()`` in 101 ms
    instead of 187 ms (4-vCPU host, 1 000 docs).  Inference also checked
    the input for free, so the footer is compared here on the driver
    instead (pyarrow, no Spark job): a missing declared column would
    otherwise read as NULL, and a column of another type (say an int32
    ``doc_id``) would be silently widened.  Either raises ``ValueError``
    naming the column; extra columns are ignored."""
    path = f"{sf_dir}/documents.parquet"
    first = path
    if os.path.isdir(path):     # Spark's layout: part files, _SUCCESS, .crc
        first = os.path.join(path, min(
            f for f in os.listdir(path) if not f.startswith(("_", "."))))
    footer = pq.read_schema(first)
    for name, typ in (c.split() for c in DOCUMENTS_SCHEMA.split(", ")):
        if name not in footer.names:
            raise ValueError(f"{path}: column {name!r} is missing")
        got = footer.field(name).type
        if got != _ARROW_TYPES[typ]:
            raise ValueError(f"{path}: column {name!r} is {got}, "
                             f"expected {typ}")
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)


def pages(spark: SparkSession, sf_dir: str,
          with_html: bool = True) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) + doc_id carried for tests.

    The local documents parquet is one input split — useless parallelism
    for the downstream narrow chain.  Repartition to core count (a real
    Common-Crawl corpus arrives in thousands of splits; this stands in
    for that).  Everything after the repartition is narrow.  ONE wave of
    cores (r7; was 2x): every task pays a fixed Python-boundary cost in
    the Arrow annotate passes, docs are uniform-sized so the second wave
    bought no balance, and at cluster scale split count comes from the
    file layout anyway (guide §6 maxPartitionBytes), not from this
    simulated spread.  Most of that per-task cost was pyspark's
    ``importlib.invalidate_caches()`` re-reading Spark's archives
    (0.17-0.46 s per task); on the installed pyspark
    (``worker_daemon``) a task enters its UDF about 0.1 s after the
    action starts, measured at local[4] on a 4-vCPU host.
    """
    n_partitions = spark.sparkContext.defaultParallelism
    df = documents(spark, sf_dir).repartition(n_partitions, "doc_id").selectExpr(
        "doc_id",
        f"{url_expr(_SPARK)} AS url",
        f"timestamp_seconds({WARC_EPOCH} + doc_id * 37 % 31536000) AS warc_ts",
        f"{pages_text_expr(_SPARK)} AS text",
        "lang",
    )
    if with_html:
        df = df.withColumn("html", wrap_html_expr(F.col("text"), F.col("doc_id")))
    return df.select("doc_id", "url", "warc_ts",
                     *( ["html"] if with_html else [] ), "text", "lang")
