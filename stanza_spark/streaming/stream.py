"""Structured Streaming surface: incremental crawl ingestion and
event-time windowed aggregation.

The reference's only streaming analog is ``Pipeline.stream`` — plain
micro-batching with no time semantics (/root/reference/stanza/pipeline/
core.py:477-503).  Here incremental ingestion reuses the *batch* pipeline
inside ``foreachBatch`` (the recommended pattern: one code path for batch
and stream), with exactly-once sink semantics provided by the checkpoint +
idempotent parquet append; the windowed aggregation shows
watermark-bounded state for late events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.annotate import annotate
from ..operators.mentions import decode_mentions
from ..operators.triples import extract_triples

PAGES_SCHEMA = ("doc_id bigint, url string, warc_ts timestamp, "
                "text string, lang string")


def stream_pages_to_triples(spark: SparkSession, input_dir: str,
                            out_dir: str, checkpoint_dir: str):
    """File-source stream of pages -> annotate -> triples via foreachBatch.
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
        w = annotate(batch_df).localCheckpoint(eager=True)
        m = decode_mentions(w).localCheckpoint(eager=True)
        t = extract_triples(w, m)
        t.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

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


def stream_windowed_counts(spark: SparkSession, input_dir: str,
                           query_name: str = "evcounts"):
    """events parquet dir as a stream -> windowed counts -> memory sink
    (append mode: only watermark-closed windows emit)."""
    src = (
        spark.readStream
        .schema("event_id bigint, ts timestamp_ntz, user_id bigint, "
                "event_type string, value double, props string")
        .option("maxFilesPerTrigger", 2)
        .parquet(input_dir)
    )
    agg = windowed_event_counts(src)
    return (
        agg.writeStream.format("memory").queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: streaming sessionization with
# applyInPandasWithState (processing-time timeout closes idle sessions).
# The batch-relational form lives in queries_relational.q_rel_sessionize;
# this is the arbitrary-state streaming variant for unbounded event feeds.
# ---------------------------------------------------------------------------

def _dedup_group(key, pdf_iter, state):
    """Per-digest arrival counter: the first document EVER seen with this
    digest (across all micro-batches and restarts — the count lives in
    the state store) is kept; everything later is flagged drop."""
    import pandas as pd

    (text_hash,) = key
    seen = state.get[0] if state.exists else 0
    # Buffer every chunk of the group before sorting: a digest group can
    # arrive split across several pandas chunks, and sorting per-chunk
    # would keep arrival order ACROSS chunks, breaking the documented
    # "ties inside one micro-batch broken by doc_id" contract.
    ids: list[int] = []
    for pdf in pdf_iter:
        ids.extend(int(d) for d in pdf["doc_id"])
    ids.sort()
    rows = []
    for doc_id in ids:
        rows.append((doc_id, text_hash, seen == 0))
        seen += 1
    state.update((seen,))
    yield pd.DataFrame(rows, columns=["doc_id", "text_hash", "keep"])


def stream_exact_dedup(docs_stream: DataFrame) -> DataFrame:
    """Streaming exact dedup over an unbounded document feed — the
    incremental-ingest form of operators.dedup.exact_dedup: keep =
    first-arrival wins (ties inside one micro-batch broken by doc_id),
    decided by arbitrary stateful processing keyed on the text digest
    (applyInPandasWithState; state = one counter per digest, so state
    size is bounded by DISTINCT document count, not stream length).
    -> append stream of (doc_id, text_hash, keep)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    h = docs_stream.select("doc_id", F.md5("text").alias("text_hash"))
    return h.groupBy("text_hash").applyInPandasWithState(
        _dedup_group,
        outputStructType="doc_id bigint, text_hash string, keep boolean",
        stateStructType="n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_SCHEMA = ("user_id bigint, session_start string, n_events bigint, "
                  "total_value double")
STATE_SCHEMA = "start bigint, n bigint, total double, last_us bigint"

SESSION_GAP_US = 30 * 60 * 1_000_000


def _sessionize_group(key, pdf_iter, state):
    """Accumulate per-user session state across micro-batches; emit closed
    sessions whenever a gap exceeds SESSION_GAP_US within the observed
    stream (event-time ordered within the group)."""
    import pandas as pd

    (user_id,) = key
    if state.exists:
        start, n, total, last_us = state.get
    else:
        start, n, total, last_us = None, 0, 0.0, None

    rows = []
    events = []
    for pdf in pdf_iter:
        events.append(pdf)
    if events:
        ev = pd.concat(events).sort_values("us")
        for us, value in zip(ev["us"], ev["value"]):
            us = int(us)
            if last_us is not None and us - last_us > SESSION_GAP_US:
                rows.append((user_id, str(start), int(n), float(total)))
                start, n, total = None, 0, 0.0
            if start is None:
                start = us
            n += 1
            total += float(value)
            last_us = us
    if state.hasTimedOut:
        if n:
            rows.append((user_id, str(start), int(n), float(total)))
        state.remove()
    else:
        state.update((start, n, total, last_us))
        state.setTimeoutDuration(5 * 1000)
    import pandas as pd
    yield pd.DataFrame(rows, columns=["user_id", "session_start",
                                      "n_events", "total_value"])


def stateful_sessionize(events_stream: DataFrame) -> DataFrame:
    """events stream -> closed sessions via arbitrary stateful processing
    (GroupStateTimeout.ProcessingTimeTimeout closes idle users)."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    ev = events_stream.withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp")))
    return (
        ev.select("user_id", "us", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
