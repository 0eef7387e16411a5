"""Structured Streaming tests: incremental pages->triples via foreachBatch
(exactly-once across restarts through the checkpoint) and watermarked
windowed aggregation."""

import shutil

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from stanza_spark.sources.pages import pages
from stanza_spark.streaming.stream import (
    stream_pages_to_triples, windowed_event_counts)
from stanza_spark.queries import q_kg_triples


def test_incremental_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")

    p = pages(spark, SF_SMOKE, with_html=False)
    first = p.filter(F.col("doc_id") % 2 == 0)
    second = p.filter(F.col("doc_id") % 2 == 1)

    first.write.mode("overwrite").parquet(src)
    q = stream_pages_to_triples(spark, src, out, chk)
    q.awaitTermination(300)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # drop in more files; the checkpoint resumes where it left off and
    # processes only the new ones
    second.write.mode("append").parquet(src)
    q = stream_pages_to_triples(spark, src, out, chk)
    q.awaitTermination(300)

    got = sorted(map(tuple, spark.read.parquet(out)
                 .select("url", "sent_id", "subj", "pred", "obj").collect()))
    want = sorted(map(tuple, q_kg_triples(spark, SF_SMOKE)
                  .select("url", "sent_id", "subj", "pred", "obj").collect()))
    assert got == want


def test_batch_replay_does_not_duplicate(spark, tmp_path):
    """Exactly-once sink: re-processing a micro-batch (simulated by
    deleting the checkpoint so the same files replay as batch 0 again)
    overwrites its batch_id directory instead of appending duplicates."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    p = pages(spark, SF_SMOKE, with_html=False).filter(F.col("doc_id") < 40)
    p.write.mode("overwrite").parquet(src)

    q = stream_pages_to_triples(spark, src, out, chk)
    q.awaitTermination(300)
    n1 = spark.read.parquet(out).count()

    shutil.rmtree(chk)  # lose the checkpoint -> the sink must still dedup
    q = stream_pages_to_triples(spark, src, out, chk + "2")
    q.awaitTermination(300)
    n2 = spark.read.parquet(out).count()
    assert n1 > 0 and n2 == n1


def test_windowed_counts_with_watermark(spark, tmp_path):
    src = str(tmp_path / "ev")
    shutil.copytree(f"{SF_SMOKE}", src, ignore=shutil.ignore_patterns(
        "*"))  # empty dir
    spark.read.parquet(f"{SF_SMOKE}/events.parquet") \
        .repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream
        .schema("event_id bigint, ts timestamp_ntz, user_id bigint, "
                "event_type string, value double, props string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    # append mode into a memory sink: only watermark-closed windows emit
    q = (windowed_event_counts(stream)
         .writeStream.format("memory").queryName("evc_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = spark.sql("SELECT * FROM evc_test")
    # append mode emits only watermark-closed windows; with availableNow
    # over finite input the final window may be held back — everything
    # emitted must match the batch ground truth
    batch = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy(F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"),
                 "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    j = got.alias("g").join(
        batch.alias("b"), ["window_start", "event_type"], "left")
    assert j.filter(F.col("g.n") != F.col("b.n")).count() == 0
    assert got.count() > 0


def test_stream_gate_raises_on_timeout(tmp_path):
    """q_kg_triples_stream's drain helper must raise (and stop the query)
    when awaitTermination times out, never read partial output."""
    import pytest
    from stanza_spark.queries import _await_stream_or_raise

    class FakeQuery:
        stopped = False
        def awaitTermination(self, t):
            return False
        def stop(self):
            self.stopped = True

    q = FakeQuery()
    with pytest.raises(TimeoutError):
        _await_stream_or_raise(q, 0.05, str(tmp_path / "scratch"))
    assert q.stopped
