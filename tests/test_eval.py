"""North-rule metric harnesses: triple P/R vs the grammar-derived reference
triples must be >= 0.95 (it is exactly 1.0), and the tokenizer F1 formula
behaves like the reference's weighted harmonic mean."""

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from stanza_spark.eval import triple_pr, tokenization_f1
from stanza_spark.queries import q_kg_triples
from stanza_spark.operators.annotate import annotate
from stanza_spark.sources.pages import pages
from stanza_spark.synth import Dialect, gold_triples_select


@pytest.fixture(scope="module")
def gold_triples(spark, duck):
    rows = duck.execute(gold_triples_select(Dialect("duckdb"))).fetchall()
    return spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4]) for r in rows],
        "url string, sent_id int, subj string, pred string, obj string")


def test_triple_pr_meets_north_rule(spark, gold_triples):
    pred = q_kg_triples(spark, SF_SMOKE)
    m = triple_pr(pred, gold_triples)
    assert m["precision"] >= 0.95 and m["recall"] >= 0.95
    assert m["precision"] == 1.0 and m["recall"] == 1.0  # exact on fixtures


def test_triple_pr_detects_degradation(spark, gold_triples):
    # drop half the predictions and corrupt some predicates: P stays 1,
    # R drops; the harness must see it
    pred = q_kg_triples(spark, SF_SMOKE)
    half = pred.filter(F.col("sent_id") % 2 == 0)
    m = triple_pr(half, gold_triples)
    assert m["precision"] == 1.0 and m["recall"] < 0.95
    corrupted = pred.withColumn(
        "pred", F.when(F.col("sent_id") % 3 == 0, F.lit("XXX"))
        .otherwise(F.col("pred")))
    m2 = triple_pr(corrupted, gold_triples)
    assert m2["precision"] < 1.0 and m2["recall"] < 1.0


def test_tokenization_f1_self_and_perturbed(spark):
    w = annotate(pages(spark, SF_SMOKE, with_html=False))
    perfect = tokenization_f1(w, w)
    assert perfect == {"token_f1": 1.0, "sentence_f1": 1.0,
                       "mwt_f1": 1.0, "combined": 1.0}
    # perturb: shift offsets of one sentence's tokens
    perturbed = w.withColumn(
        "start_char",
        F.when(F.col("sent_id") == 0, F.col("start_char") + 1)
        .otherwise(F.col("start_char")))
    m = tokenization_f1(perturbed, w)
    assert m["token_f1"] < 1.0
    assert m["combined"] < 1.0
    # harmonic weighting: sentence F1 unaffected by token offset shifts
    assert m["sentence_f1"] == 1.0
