"""Gopher-style repetition signals (operators.textstats.repetition_signals)
value-checked against a DuckDB twin over the driver corpus, plus planted
repetitive fixtures pinning each metric's definition."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import REPO, SF_SMOKE
from stanza_spark import vocab as V
from stanza_spark.operators.textstats import repetition_signals

ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), l -> l <> '') AS lines,
         string_split_regex(text, '{V.WS_SPLIT_RE}') AS words
  FROM documents
), lineagg AS (
  SELECT doc_id,
         len(lines) AS n_lines,
         len(list_distinct(lines)) AS n_distinct_lines,
         coalesce(list_sum(list_transform(lines, l -> length(l))), 0)
           AS line_chars,
         coalesce(list_sum(list_transform(list_distinct(lines),
                                          l -> length(l))), 0)
           AS distinct_line_chars,
         CASE WHEN len(words) >= 2 THEN
           list_transform(generate_series(1, len(words) - 1),
                          i -> words[i] || ' ' || words[i + 1])
         ELSE [] END AS grams
  FROM base
), g AS (
  SELECT doc_id, unnest(grams) AS gram FROM lineagg
), top AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS n_bigrams
  FROM (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
  GROUP BY doc_id
)
SELECT l.doc_id,
       l.n_lines,
       round((l.n_lines - l.n_distinct_lines)
             / greatest(l.n_lines, 1), 6) AS dup_line_frac,
       round((l.line_chars - l.distinct_line_chars)
             / greatest(l.line_chars, 1), 6) AS dup_line_char_frac,
       CAST(coalesce(t.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(coalesce(t.top_c, 0)
             / greatest(coalesce(t.n_bigrams, 0), 1), 6) AS top_bigram_frac
FROM lineagg l LEFT JOIN top t USING (doc_id)
"""


def test_repetition_signals_match_duckdb_twin(spark):
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(REPO, "tools", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = repetition_signals(docs).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * "
        f"FROM '{SF_SMOKE}/documents.parquet'")
    want = con.execute(ORACLE).fetchdf()
    a, b = mod.normalize(got), mod.normalize(want)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) > 0
    assert a.equals(b)
    # the synthetic corpus really exercises the bigram mode ("batch batch
    # batch" style repeats exist)
    assert got["top_bigram_frac"].max() > 0


def test_repetition_fixtures_pin_definitions(spark):
    docs = spark.createDataFrame(
        [
            # 4 non-empty lines, 'nav bar' repeated 3x (16 dup chars of 25)
            (1, "nav bar\nreal content here\nnav bar\nnav bar"),
            # heavy bigram loop: 'click here click here click here'
            (2, "click here click here click here"),
            # clean document
            (3, "a perfectly ordinary sentence"),
            # empty lines are ignored
            (4, "x\n\n\nx\n"),
        ],
        "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_signals(docs).collect()}

    r1 = out[1]
    assert r1.n_lines == 4
    assert r1.dup_line_frac == pytest.approx(0.5)          # 2 of 4 repeat
    assert r1.dup_line_char_frac == pytest.approx(14 / 38) # 2x'nav bar'
    r2 = out[2]
    # slots: click-here here-click click-here here-click click-here
    assert r2.n_bigrams == 5
    assert r2.top_bigram_frac == pytest.approx(3 / 5)
    r3 = out[3]
    assert r3.dup_line_frac == 0.0 and r3.top_bigram_frac == pytest.approx(1 / 3)
    r4 = out[4]
    assert r4.n_lines == 2 and r4.dup_line_frac == pytest.approx(0.5)


def test_curation_flags_repetition_reason(spark):
    """The composite decision drops repetitive docs (Gopher rule) AFTER
    duplicate/lang/quality in precedence; 'ok' survivors are below both
    repetition thresholds."""
    from stanza_spark.operators.textstats import curation_flags
    en_filler = ("the report was published in the year and it was good "
                 "for many people across several regions of the world "
                 "with a lot of useful details inside it")
    loop = "click here " * 30 + en_filler   # repetitive but en + long
    docs = spark.createDataFrame(
        [(1, en_filler), (2, loop), (3, loop), (4, "短い")],
        "doc_id long, text string")
    out = {r.doc_id: r.reason for r in
           curation_flags(docs, spark, rep_bigram_t=0.15).collect()}
    assert out[1] == "ok"
    assert out[2] == "repetition"       # first copy survives dedup, drops here
    assert out[3] == "duplicate"        # dedup precedence beats repetition
    assert out[4] in ("lang", "quality")
