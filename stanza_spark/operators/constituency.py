"""Constituency trees (SURVEY §2.1 op 18): a deterministic builder that
derives the bracketed tree from the dependency analysis, reproducing the
reference pipeline's golden trees exactly
(/root/reference/stanza/tests/pipeline/test_english_pipeline.py:92,104,116
— e.g. ``(ROOT (S (NP (NNP Barack) (NNP Obama)) (VP (VBD was) (VP (VBN
born) (PP (IN in) (NP (NNP Hawaii))))) (. .)))``).

Shapes:
* verb-rooted sentence -> (ROOT (S [NP subj] VP-chain [(. punct)]))
  where each aux wraps the inner VP, objects become NP, xcomp becomes
  (S (NP ...)), case-marked obliques become (PP (IN case) (NP ...));
* verbless sentence -> (ROOT (FRAG leaf...)) — our documented convention
  (the reference has no golden for these).

Leaves are ``(XPOS text)``.  Pure per-sentence Python over the annotated
word dicts — runs inside the same Arrow batches as the annotator.
"""

from __future__ import annotations

from typing import Iterator


def constituency_trees(pages_df):
    """English pages -> (url, sent_id, tree): one narrow Arrow pass (the
    same zero-shuffle shape as the annotator — constituency is
    sentence-local, so nothing exchanges)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from .annotate import annotate_sentences

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for url, text in zip(pdf["url"], pdf["text"]):
                for sent_id, _ss, _se, words in annotate_sentences(text):
                    out.append((url, sent_id, sentence_tree(words)))
            yield pd.DataFrame(out, columns=["url", "sent_id", "tree"])

    df = pages_df.select("url", "lang", "text") \
        .filter(F.col("lang") == "en")
    return df.select("url", "text").mapInPandas(
        batches, schema="url string, sent_id int, tree string")


def _leaf(w) -> str:
    return f"({w['xpos']} {w['text']})"


def _np(words, head_id: int) -> str:
    ids = [head_id] + [
        i + 1 for i, w in enumerate(words)
        if w["head"] == head_id and w["deprel"] in ("flat", "det", "amod")]
    inner = " ".join(_leaf(words[i - 1]) for i in sorted(ids))
    return f"(NP {inner})"


def sentence_tree(words) -> str:
    """words: annotated dicts (text/xpos/upos/head/deprel, 1-based heads)
    -> bracketed constituency string."""
    n = len(words)
    root = next((i + 1 for i, w in enumerate(words) if w["head"] == 0),
                None)
    if root is None or words[root - 1]["upos"] != "VERB":
        leaves = " ".join(_leaf(w) for w in words)
        return f"(ROOT (FRAG {leaves}))"

    def kids(rel_set):
        return [i + 1 for i, w in enumerate(words)
                if w["head"] == root and w["deprel"] in rel_set]

    subjs = kids({"nsubj", "nsubj:pass"})
    auxes = sorted(kids({"aux", "aux:pass"}))
    args = sorted(kids({"obj", "xcomp", "obl"}))
    puncts = sorted(kids({"punct"}))

    parts = [_leaf(words[root - 1])]
    for a in args:
        rel = words[a - 1]["deprel"]
        if rel == "obj":
            parts.append(_np(words, a))
        elif rel == "xcomp":
            parts.append(f"(S {_np(words, a)})")
        else:  # obl: case-marked -> PP, bare -> NP
            case = next((i + 1 for i, w in enumerate(words)
                         if w["head"] == a and w["deprel"] == "case"), None)
            np = _np(words, a)
            parts.append(
                f"(PP {_leaf(words[case - 1])} {np})" if case else np)
    vp = f"(VP {' '.join(parts)})"
    for a in reversed(auxes):
        vp = f"(VP {_leaf(words[a - 1])} {vp})"

    s_parts = [_np(words, s) for s in sorted(subjs)]
    s_parts.append(vp)
    s_parts.extend(_leaf(words[p - 1]) for p in puncts)
    return f"(ROOT (S {' '.join(s_parts)}))"
