"""Dict-then-expensive-model lemma ensemble (SURVEY §2.1 op 16): the
relational form of the reference's `skip_seq2seq` split —

    composite (word, upos) dict  ->  word dict  ->  seq2seq on MISSES only
    ->  coalesce dict-first      (lemma/trainer.py:221-269)

Spark shape: broadcast-hash-join the tiny lemma dictionary; `left_anti`
carves out the dict-miss subset; ONLY that subset enters the expensive
Arrow stage (here a deterministic suffix-rule "model" standing in for the
beam-search seq2seq — the wiring, not the network, is the operator); a
final union restores the full table.  Dict hits never pay the Python
round-trip — asserted by plan inspection in tests/test_plans.py.

MWT expansion (mwt/trainer.py:168-189) is not a relational stage: the
annotator expands contractions inline (``annotate.expand_token``).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import vocab as V
from .annotate import CLOSED_LEMMA


def lemma_dict_df(spark: SparkSession) -> DataFrame:
    """The broadcastable lemma dictionary: composite (word, upos) entries
    from the verb lexicon + closed-class map + irregular nouns — the
    train_dict product (lemma/trainer.py:201-219)."""
    rows = []
    for w, (_xpos, lemma) in V.VERB_LEXICON.items():
        rows.append((w, "VERB", lemma))
    for w in V.CLOSED_CLASS:
        upos = V.CLOSED_CLASS[w][0]
        rows.append((w, upos, CLOSED_LEMMA.get(w, w)))
    for w, lemma in V.LEMMA_EXCEPTIONS.items():
        rows.append((w, "NOUN", lemma))
    from ..session import local_values_df
    return local_values_df(spark, rows, ["dword", "dupos", "dlemma"])


def _suffix_rule_lemma(word: str, upos: str) -> str:
    """The expensive-path 'model': deterministic suffix analysis matching
    the annotator's noun rules (identity elsewhere)."""
    lw = word.lower()
    if upos == "NOUN":
        if lw.endswith("ies") and len(lw) > 4:
            return lw[:-3] + "y"
        if lw.endswith("s") and not lw.endswith("ss") and len(lw) > 3:
            return lw[:-1]
        return lw
    if upos in ("X", "NUM", "PUNCT", "SYM", "PROPN"):
        return word
    return lw


def _expensive_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        pdf = pdf.copy()
        pdf["lemma_pred"] = [
            _suffix_rule_lemma(w, u) for w, u in zip(pdf["word"], pdf["upos"])]
        yield pdf


def ensemble_lemmas(words: DataFrame, lemma_dict: DataFrame) -> DataFrame:
    """(url, sent_id, word_id, word, upos) -> + lemma via the dict-first
    ensemble.  The result is projected to exactly those five columns plus
    ``lemma`` — extra input columns are dropped (re-join the output on
    (url, sent_id, word_id) if you need them; a built-in re-join would
    force every caller to pay that shuffle)."""
    base = words.select("url", "sent_id", "word_id",
                        F.col("word"), F.col("upos"),
                        F.lower("word").alias("_lw"))
    d = F.broadcast(lemma_dict)

    hits = (
        base.join(d, (base._lw == d.dword) & (base.upos == d.dupos), "inner")
        .select("url", "sent_id", "word_id", "word", "upos",
                F.col("dlemma").alias("lemma"))
    )
    misses = (
        base.join(d, (base._lw == d.dword) & (base.upos == d.dupos),
                  "left_anti")
        .select("url", "sent_id", "word_id", "word", "upos")
    )
    expensive = misses.mapInPandas(
        _expensive_batches,
        schema="url string, sent_id int, word_id int, word string, "
               "upos string, lemma_pred string",
    ).withColumnRenamed("lemma_pred", "lemma")
    return hits.unionByName(expensive)
