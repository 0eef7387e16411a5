"""Multi-model NER merge (SURVEY §2.1 op 14 / §2.4 set-ops row): combine
two BIOES tag columns with earlier-model precedence — the relational form
of the reference's ``merge_tags`` (/root/reference/stanza/models/ner/
utils.py:267-314, driven from ner_processor.py:106-125) — and carry the
per-model tags as the ``multi_ner`` array column (doc.py:1305-1313).

Semantics: a secondary-model span is adopted iff every one of its words is
O under the primary model (span-level all-or-nothing, exactly the
reference's block rule).  Relationally that is: decode both tag columns to
spans (gaps-and-islands, same as operators.mentions), anti-join secondary
spans against overlapping primary spans per (url, sent_id), then re-tag.

Cost shape: two window passes partitioned by (url, sent_id) — the same
key every annotation-stage exchange uses — plus one broadcast-size range
join per sentence; nothing corpus-quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, Window

# deterministic stand-in for a second NER model with a different type
# system: role nouns and bare years (years *collide* with the primary
# model's S-DATE, proving precedence; roles fill genuine O gaps).
ROLE_WORDS = ("president", "director", "founder", "champion")


def secondary_ner_expr():
    """Pure-SQL second tagger over ``text``: S-ROLE for role nouns, S-YEAR
    for 4-digit years, O otherwise."""
    lw = F.lower(F.col("text"))
    return (
        F.when(lw.isin(*ROLE_WORDS), F.lit("S-ROLE"))
        .when(F.col("text").rlike("^[0-9]{4}$"), F.lit("S-YEAR"))
        .otherwise(F.lit("O"))
    )


def _spans(df: DataFrame, tag_col: str) -> DataFrame:
    """BIOES tag column -> (url, sent_id, first_word_id, last_word_id)."""
    tagged = df.filter(F.col(tag_col) != "O").select(
        "url", "sent_id", "word_id",
        F.substring(tag_col, 1, 1).alias("pos_tag"),
    )
    w = Window.partitionBy("url", "sent_id").orderBy("word_id")
    seg = tagged.withColumn(
        "seg",
        F.sum(F.when(F.col("pos_tag").isin("B", "S"), 1).otherwise(0)).over(w),
    )
    return (
        seg.groupBy("url", "sent_id", "seg")
        .agg(F.min("word_id").alias("first_word_id"),
             F.max("word_id").alias("last_word_id"))
        .drop("seg")
    )


def merge_ner_tags(words: DataFrame) -> DataFrame:
    """words (+ secondary_ner_expr tags) -> words with

    * ``ner`` replaced by the merged tags (primary wins; secondary spans
      adopted only over all-O primary stretches), and
    * ``multi_ner`` = array(primary_tag, secondary_tag) per word
      (the reference's Token.multi_ner, doc.py:1305-1313).
    """
    w = words.withColumn("_ner2", secondary_ner_expr())

    p_spans = _spans(w, "ner").select(
        "url", "sent_id",
        F.col("first_word_id").alias("p_first"),
        F.col("last_word_id").alias("p_last"))
    s_spans = _spans(w, "_ner2")
    clash = (
        s_spans.join(
            p_spans,
            [s_spans.url == p_spans.url, s_spans.sent_id == p_spans.sent_id,
             s_spans.first_word_id <= p_spans.p_last,
             p_spans.p_first <= s_spans.last_word_id])
        .select(s_spans.url, s_spans.sent_id,
                s_spans.first_word_id, s_spans.last_word_id)
    )
    kept = s_spans.join(
        clash, ["url", "sent_id", "first_word_id", "last_word_id"],
        "left_anti")

    adopted = (
        w.alias("w")
        .join(kept.alias("k"),
              [F.col("w.url") == F.col("k.url"),
               F.col("w.sent_id") == F.col("k.sent_id"),
               F.col("w.word_id").between(F.col("k.first_word_id"),
                                          F.col("k.last_word_id"))],
              "left")
        .select("w.*", F.col("k.first_word_id").alias("_in_kept"))
    )
    merged = (
        adopted.withColumn(
            "multi_ner", F.array(F.col("ner"), F.col("_ner2")))
        .withColumn(
            "ner",
            F.when(F.col("ner") != "O", F.col("ner"))
            .when(F.col("_in_kept").isNotNull(), F.col("_ner2"))
            .otherwise(F.lit("O")))
        .drop("_ner2", "_in_kept")
    )
    return merged
