"""Evaluation harnesses for the north-rule metrics.

* ``triple_pr`` — set-level precision/recall of extracted (subj, pred, obj)
  triples against reference triples (the BASELINE.json headline:
  P/R >= 0.95).
* ``tokenization_f1`` — token / sentence / MWT F1 with the reference's
  combination formula: harmonic mean weighted [1, 1, .01]
  (/root/reference/stanza/models/tokenization/utils.py:580-620; the
  harmonic weights at :616-620).

``triple_pr`` is fully distributed (null-safe join counts, no driver-side
set materialization) so the same harness runs at bench scale — only three
scalar counts ever reach the driver.  ``tokenization_f1`` stays a
driver-side set computation (fixture-scale goldens only).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def _f1(p: float, r: float) -> float:
    return 0.0 if p + r == 0 else 2 * p * r / (p + r)


def _prf(pred: set, gold: set):
    tp = len(pred & gold)
    p = tp / len(pred) if pred else 0.0
    r = tp / len(gold) if gold else 0.0
    return p, r, _f1(p, r)


TRIPLE_KEYS = ("url", "sent_id", "subj", "pred", "obj")


def triple_pr(pred_df: DataFrame, gold_df: DataFrame) -> dict:
    """Set-level P/R/F1 of predicted triples vs reference triples,
    computed distributed: dedup both sides on TRIPLE_KEYS, count the
    null-safe equi-join for true positives.  The join shuffles on the
    same key tuple both inputs already group by, so at 100 TB this is one
    exchange per side and three count jobs — no collect."""
    ks = list(TRIPLE_KEYS)
    p_df = pred_df.select(*ks).dropDuplicates(ks).alias("p") \
        .localCheckpoint(eager=True)
    g_df = gold_df.select(*ks).dropDuplicates(ks).alias("g") \
        .localCheckpoint(eager=True)
    n_pred = p_df.count()
    n_gold = g_df.count()
    cond = reduce(lambda a, b: a & b,
                  [p_df[k].eqNullSafe(g_df[k]) for k in ks])
    tp = p_df.join(g_df, cond, "inner").count()
    p = tp / n_pred if n_pred else 0.0
    r = tp / n_gold if n_gold else 0.0
    return {"precision": round(p, 6), "recall": round(r, 6),
            "f1": round(_f1(p, r), 6), "n_pred": n_pred, "n_gold": n_gold}


def tokenization_f1(pred_words: DataFrame, gold_words: DataFrame) -> dict:
    """Token / sentence / MWT F1 + the reference's weighted harmonic mean.

    Tokens keyed by (url, start_char, end_char); sentences by
    (url, sent_start, sent_end); MWT expansions by
    (url, start_char, end_char, text).  Weights [1, 1, .01] per
    tokenization/utils.py:616-620:
        score = sum(w) / sum(w_i / f1_i)
    """
    def keyset(df, cols):
        return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}

    tok_p = keyset(pred_words.filter("NOT is_mwt"),
                   ["url", "start_char", "end_char"])
    tok_g = keyset(gold_words.filter("NOT is_mwt"),
                   ["url", "start_char", "end_char"])
    sent_p = keyset(pred_words, ["url", "sent_start", "sent_end"])
    sent_g = keyset(gold_words, ["url", "sent_start", "sent_end"])
    mwt_p = keyset(pred_words.filter("is_mwt"),
                   ["url", "start_char", "end_char", "text"])
    mwt_g = keyset(gold_words.filter("is_mwt"),
                   ["url", "start_char", "end_char", "text"])

    _, _, tok_f1 = _prf(tok_p, tok_g)
    _, _, sent_f1 = _prf(sent_p, sent_g)
    if not mwt_p and not mwt_g:
        mwt_f1 = 1.0  # vacuous: no MWTs anywhere
    else:
        _, _, mwt_f1 = _prf(mwt_p, mwt_g)

    weights = [1.0, 1.0, 0.01]
    f1s = [tok_f1, sent_f1, mwt_f1]
    if any(f == 0 for f in f1s):
        combined = 0.0
    else:
        combined = sum(weights) / sum(w / f for w, f in zip(weights, f1s))
    return {"token_f1": round(tok_f1, 6), "sentence_f1": round(sent_f1, 6),
            "mwt_f1": round(mwt_f1, 6), "combined": round(combined, 6)}
