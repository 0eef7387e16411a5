"""Structured Streaming surface: incremental crawl ingestion and
event-time windowed aggregation.

The reference's only streaming analog is ``Pipeline.stream`` — plain
micro-batching with no time semantics (/root/reference/stanza/pipeline/
core.py:477-503).  Here incremental ingestion runs the *batch* triples
plan inside ``foreachBatch`` — ``triples.triples_narrow``, the one narrow
Arrow pass kg_triples runs (the recommended pattern: one code path for
batch and stream) — with exactly-once sink semantics provided by the
checkpoint + a per-batch parquet overwrite; the windowed aggregation
(``windowed_event_counts``, drained by the kg_stream_windows gate) shows
watermark-bounded state for late events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.triples import triples_narrow

PAGES_SCHEMA = ("doc_id bigint, url string, warc_ts timestamp, "
                "text string, lang string")


def stream_pages_to_triples(spark: SparkSession, input_dir: str,
                            out_dir: str, checkpoint_dir: str):
    """File-source stream of pages -> triples via foreachBatch, each
    micro-batch running kg_triples' one narrow pass (triples_narrow).
    availableNow trigger: drains everything currently in the source then
    stops (incremental batch, resumable via the checkpoint).

    Exactly-once sink: each micro-batch overwrites its own
    ``batch_id=<n>`` subdirectory, so a batch replayed after a partial
    write replaces its previous output instead of duplicating it (the
    foreachBatch idempotent-sink pattern; readers scan ``out_dir/*``)."""
    src = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int):
        triples_narrow(batch_df).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}")

    return (
        src.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(events_stream: DataFrame) -> DataFrame:
    """Event-time 1-hour tumbling-window counts with a 2-hour watermark
    bounding state: late events beyond the watermark are dropped, state
    for closed windows is evicted — the streaming form of
    queries_relational.q_rel_hourly_counts."""
    return (
        events_stream
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
