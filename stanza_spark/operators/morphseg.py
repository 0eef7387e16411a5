"""Morphological segmentation (SURVEY §2.1 op 21): word -> morpheme list.

The reference delegates to an external neural segmenter batched over all
words (/root/reference/stanza/pipeline/morphseg_processor.py:45-83); the
deterministic stand-in is a closed affix grammar — at most one known
prefix and one known suffix split off a lowercase word when the remaining
stem keeps >= MIN_STEM chars.  Capitalized/non-alpha words stay whole
(proper nouns never segment).

The operator is a pure Column expression (whole-stage codegen, no UDF);
the identical rule set is emitted as DuckDB SQL for the kg_morphseg
oracle, and a plain-Python twin anchors unit tests.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

PREFIXES = sorted(["un", "re", "pre", "dis"], key=lambda p: (-len(p), p))
SUFFIXES = sorted(["ness", "ment", "ing", "ly", "ed"],
                  key=lambda s: (-len(s), s))
MIN_STEM = 3


def segment_word(word: str) -> list[str]:
    """Python twin of the SQL expression (unit anchor)."""
    import re
    if not re.fullmatch("[a-z]+", word):
        return [word]
    pre = ""
    rest = word
    for p in PREFIXES:
        if rest.startswith(p) and len(rest) - len(p) >= MIN_STEM:
            pre, rest = p, rest[len(p):]
            break
    suf = ""
    for s in SUFFIXES:
        if rest.endswith(s) and len(rest) - len(s) >= MIN_STEM:
            suf, rest = s, rest[:-len(s)]
            break
    return [m for m in (pre, rest, suf) if m]


def _prefix_expr(col: Column) -> Column:
    out = F.lit("")
    for p in reversed(PREFIXES):
        out = F.when(
            col.startswith(p)
            & (F.length(col) - len(p) >= MIN_STEM), F.lit(p)).otherwise(out)
    return out


def _suffix_expr(col: Column) -> Column:
    out = F.lit("")
    for s in reversed(SUFFIXES):
        out = F.when(
            col.endswith(s)
            & (F.length(col) - len(s) >= MIN_STEM), F.lit(s)).otherwise(out)
    return out


def morphemes_expr(word_col: Column) -> Column:
    """word -> '+'-joined morpheme string, pure Catalyst."""
    eligible = word_col.rlike("^[a-z]+$")
    pre = _prefix_expr(word_col)
    rest1 = F.substring(word_col, F.length(pre) + 1, F.lit(1 << 20))
    suf = _suffix_expr(rest1)
    stem = F.substring(rest1, F.lit(1),
                       (F.length(rest1) - F.length(suf)).cast("int"))
    segmented = F.concat_ws(
        "+", *[F.when(c != "", c) for c in (pre, stem, suf)])
    return F.when(eligible, segmented).otherwise(word_col)


def segment_words(words_df):
    """words table -> + ``morphemes`` column ('+'-joined) of ``text``."""
    return words_df.withColumn("morphemes", morphemes_expr(F.col("text")))


def morphseg_sql(word_expr: str) -> str:
    """DuckDB SQL emitting the identical segmentation for the oracle."""
    def pre_case(w):
        whens = "".join(
            f" WHEN {w} LIKE '{p}%' AND length({w}) - {len(p)} >= {MIN_STEM} "
            f"THEN '{p}'" for p in PREFIXES)
        return f"CASE{whens} ELSE '' END"

    def suf_case(w):
        whens = "".join(
            f" WHEN {w} LIKE '%{s}' AND length({w}) - {len(s)} >= {MIN_STEM} "
            f"THEN '{s}'" for s in SUFFIXES)
        return f"CASE{whens} ELSE '' END"

    w = word_expr
    pre = pre_case(w)
    rest1 = f"substr({w}, length({pre}) + 1)"
    suf = suf_case(rest1)
    stem = f"substr({rest1}, 1, length({rest1}) - length({suf}))"
    joined = (f"concat_ws('+', nullif({pre}, ''), nullif({stem}, ''), "
              f"nullif({suf}, ''))")
    return (f"CASE WHEN regexp_full_match({w}, '[a-z]+') "
            f"THEN {joined} ELSE {w} END")
