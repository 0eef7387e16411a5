"""The per-sentence triple matcher (operators.triples.match_sentence) on
hand-built parses.  The expected rows are what the relational join fan
(``extract_triples``, removed when every DepPattern consumer moved onto
the matcher) returned for the same sentences and patterns, so each corner
of the pattern semantics keeps its old answer.  No Spark."""

import pytest

from stanza_spark.operators.ner_tags import decode_from_bioes
from stanza_spark.operators.triples import (
    CHAIN_PATTERN, DEFAULT_PATTERN, OBL_PATTERN, SUBJ_CHAIN_PATTERN,
    DepPattern, match_sentence, triples_schema)


def _w(text, upos, lemma, head, deprel, ner="O"):
    return dict(text=text, upos=upos, lemma=lemma, head=head, deprel=deprel,
                ner=ner)


SENTENCES = [
    # 0: flat-expanded typed subject, two obl (first wins), case chains
    [_w("Barack", "PROPN", "Barack", 3, "nsubj", "B-PERSON"),
     _w("Obama", "PROPN", "Obama", 1, "flat", "E-PERSON"),
     _w("moved", "VERB", "move", 0, "root"),
     _w("to", "ADP", "to", 5, "case"),
     _w("Tokyo", "PROPN", "Tokyo", 3, "obl", "S-GPE"),
     _w("in", "ADP", "in", 7, "case"),
     _w("1999", "NUM", "1999", 3, "obl", "S-DATE"),
     _w(".", "PUNCT", ".", 3, "punct")],
    # 1: two subjects -> two rows; a cc child (neg veto target)
    [_w("John", "PROPN", "John", 3, "nsubj", "B-PERSON"),
     _w("Smith", "PROPN", "Smith", 1, "flat", "E-PERSON"),
     _w("removed", "VERB", "remove", 0, "root"),
     _w("files", "NOUN", "file", 3, "obj"),
     _w("and", "CCONJ", "and", 3, "cc"),
     _w("he", "PRON", "he", 3, "nsubj"),
     _w(".", "PUNCT", ".", 3, "punct")],
    # 2: xcomp object; the xcomp verb has no subject of its own
    [_w("Mary", "PROPN", "Mary", 2, "nsubj", "S-PERSON"),
     _w("wanted", "VERB", "want", 0, "root"),
     _w("to", "PART", "to", 4, "mark"),
     _w("visit", "VERB", "visit", 2, "xcomp"),
     _w("Paris", "PROPN", "Paris", 4, "obj", "S-GPE"),
     _w(".", "PUNCT", ".", 2, "punct")],
    # 3: descendants at depth 2 tie on (priority, depth): the(3), the(6)
    [_w("Ann", "PROPN", "Ann", 2, "nsubj", "S-PERSON"),
     _w("sent", "VERB", "send", 0, "root"),
     _w("the", "DET", "the", 4, "det"),
     _w("book", "NOUN", "book", 2, "obj"),
     _w("to", "ADP", "to", 8, "case"),
     _w("the", "DET", "the", 8, "det"),
     _w("big", "ADJ", "big", 8, "amod"),
     _w("house", "NOUN", "house", 2, "obl"),
     _w(".", "PUNCT", ".", 2, "punct")],
    # 4: the predicate itself has a flat child (a subject/object that is
    # a flat dependent has no span)
    [_w("Kim", "PROPN", "Kim", 2, "nsubj", "S-PERSON"),
     _w("ran", "VERB", "run", 0, "root"),
     _w("home", "NOUN", "home", 2, "flat"),
     _w("Seoul", "PROPN", "Seoul", 2, "obj", "S-GPE"),
     _w(".", "PUNCT", ".", 2, "punct")],
    # 5: the first obl has no case child; the second has one
    [_w("Lee", "PROPN", "Lee", 2, "nsubj", "S-PERSON"),
     _w("left", "VERB", "leave", 0, "root"),
     _w("yesterday", "NOUN", "yesterday", 2, "obl"),
     _w("for", "ADP", "for", 5, "case"),
     _w("Rome", "PROPN", "Rome", 2, "obl", "S-GPE"),
     _w(".", "PUNCT", ".", 2, "punct")],
]

DEFAULT_ROWS = [
    (0, "Barack Obama", "move", "Tokyo"),
    (1, "John Smith", "remove", "files"),
    (1, "he", "remove", "files"),
    (2, "Mary", "want", "visit"),
    (3, "Ann", "send", "book"),
    (4, "Kim", "run", "Seoul"),
    (5, "Lee", "leave", "yesterday"),
]

# name -> (pattern, keep_ids, typed, output columns, expected rows)
CASES = {
    "default_typed": (
        DEFAULT_PATTERN, False, True,
        ["subj", "pred", "obj", "subj_type", "obj_type"],
        [(0, "Barack Obama", "move", "Tokyo", "PERSON", "GPE"),
         (1, "John Smith", "remove", "files", "PERSON", None),
         (1, "he", "remove", "files", None, None),
         (2, "Mary", "want", "visit", "PERSON", None),
         (3, "Ann", "send", "book", "PERSON", None),
         (4, "Kim", "run", "Seoul", "PERSON", "GPE"),
         (5, "Lee", "leave", "yesterday", "PERSON", None)]),
    "keep_ids_typed": (
        DEFAULT_PATTERN, True, True,
        ["subj", "pred", "obj", "v_id", "s_id", "o_id", "subj_type",
         "obj_type"],
        [(0, "Barack Obama", "move", "Tokyo", 3, 1, 5, "PERSON", "GPE"),
         (1, "John Smith", "remove", "files", 3, 1, 4, "PERSON", None),
         (1, "he", "remove", "files", 3, 6, 4, None, None),
         (2, "Mary", "want", "visit", 2, 1, 4, "PERSON", None),
         (3, "Ann", "send", "book", 2, 1, 4, "PERSON", None),
         (4, "Kim", "run", "Seoul", 2, 1, 4, "PERSON", "GPE"),
         (5, "Lee", "leave", "yesterday", 2, 1, 3, "PERSON", None)]),
    "obl_typed": (
        OBL_PATTERN, False, True,
        ["subj", "pred", "obj", "subj_type", "obj_type"],
        [(0, "Barack Obama", "move", "Tokyo", "PERSON", "GPE"),
         (3, "Ann", "send", "house", "PERSON", None),
         (5, "Lee", "leave", "yesterday", "PERSON", None)]),
    # 'home' (s4) is a flat dependent: its subject row drops
    "flat_subject_drops": (
        DepPattern(subj_rels=("nsubj", "flat")), False, False,
        ["subj", "pred", "obj"], DEFAULT_ROWS),
    # the flat 'home' wins s4's object pick and drops the predicate: the
    # pick is not re-chosen among the other objects
    "flat_object_drops": (
        DepPattern(obj_rels=("flat", "obj")), False, False,
        ["subj", "pred", "obj"],
        [(1, "John Smith", "remove", "files"),
         (1, "he", "remove", "files"),
         (3, "Ann", "send", "book")]),
    # priority = first listed position: obl outranks obj
    "duplicated_obj_rel": (
        DepPattern(obj_rels=("obl", "obj", "obl")), False, False,
        ["subj", "pred", "obj"],
        [(0, "Barack Obama", "move", "Tokyo"),
         (1, "John Smith", "remove", "files"),
         (1, "he", "remove", "files"),
         (3, "Ann", "send", "house"),
         (4, "Kim", "run", "Seoul"),
         (5, "Lee", "leave", "yesterday")]),
    "transitive_priority": (
        DepPattern(obj_rels=("case", "det"), obj_transitive=True), True,
        False, ["subj", "pred", "obj", "v_id", "s_id", "o_id"],
        [(0, "Barack Obama", "move", "to", 3, 1, 4),
         (3, "Ann", "send", "to", 2, 1, 5),
         (5, "Lee", "leave", "for", 2, 1, 4)]),
    # (priority, depth) tie between the(3) and the(6): word order
    "transitive_tie": (
        DepPattern(obj_rels=("det", "case"), obj_transitive=True), True,
        False, ["subj", "pred", "obj", "v_id", "s_id", "o_id"],
        [(0, "Barack Obama", "move", "to", 3, 1, 4),
         (3, "Ann", "send", "the", 2, 1, 3),
         (5, "Lee", "leave", "for", 2, 1, 4)]),
    "transitive_depth_bound": (
        DepPattern(obj_rels=("det", "case"), obj_transitive=True,
                   obj_max_depth=1), False, False,
        ["subj", "pred", "obj"], []),
    # s5's first obl has no case child: the predicate drops
    "chain_missing_child": (
        CHAIN_PATTERN, True, False,
        ["subj", "pred", "obj", "v_id", "s_id", "o_id", "tail"],
        [(0, "Barack Obama", "move", "Tokyo", 3, 1, 5, "to"),
         (3, "Ann", "send", "house", 2, 1, 8, "to")]),
    "subj_chain_typed": (
        SUBJ_CHAIN_PATTERN, False, True,
        ["subj", "pred", "obj", "subj_tail", "tail", "subj_type",
         "obj_type"],
        [(0, "Barack Obama", "move", "Tokyo", "Obama", "to", "PERSON",
          "GPE")]),
    # whole-lemma match: 'remove' does not match 'move'
    "pred_lemma_re": (
        DepPattern(pred_lemma_re="move|visit|leave"), False, False,
        ["subj", "pred", "obj"],
        [(0, "Barack Obama", "move", "Tokyo"),
         (5, "Lee", "leave", "yesterday")]),
    "pred_from_text": (
        DepPattern(pred_from="text"), False, False,
        ["subj", "pred", "obj"],
        [(0, "Barack Obama", "moved", "Tokyo"),
         (1, "John Smith", "removed", "files"),
         (1, "he", "removed", "files"),
         (2, "Mary", "wanted", "visit"),
         (3, "Ann", "sent", "book"),
         (4, "Kim", "ran", "Seoul"),
         (5, "Lee", "left", "yesterday")]),
    "neg_veto": (
        DepPattern(neg_rels=("xcomp", "cc")), False, False,
        ["subj", "pred", "obj"],
        [(0, "Barack Obama", "move", "Tokyo"),
         (3, "Ann", "send", "book"),
         (4, "Kim", "run", "Seoul"),
         (5, "Lee", "leave", "yesterday")]),
}


@pytest.mark.parametrize("name", list(CASES))
def test_matcher_keeps_join_fan_answers(name):
    pattern, keep_ids, typed, columns, want = CASES[name]
    got = []
    for sent_id, words in enumerate(SENTENCES):
        mentions = (decode_from_bioes([w["ner"] for w in words])
                    if typed else None)
        got += [(sent_id, *r)
                for r in match_sentence(words, mentions, pattern, keep_ids)]
    assert sorted(got, key=repr) == sorted(want, key=repr)
    schema = triples_schema(pattern, typed, keep_ids)
    assert [c.split()[0] for c in schema.split(", ")] == \
        ["url", "sent_id", *columns]


def test_pattern_dict_schema():
    """A name -> pattern dict appends a ``pattern`` column; its patterns
    must share one output shape, and an empty dict is an error."""
    pair = {"a": DEFAULT_PATTERN, "b": OBL_PATTERN}
    assert triples_schema(pair, True, False) == \
        triples_schema(DEFAULT_PATTERN, True, False) + ", pattern string"
    with pytest.raises(ValueError):
        triples_schema({"a": DEFAULT_PATTERN, "c": CHAIN_PATTERN}, True,
                       False)
    with pytest.raises(ValueError):
        triples_schema({}, True, False)


def test_pred_from_names_a_surface():
    """``pred_from`` is checked when the pattern is built, not inside a
    Python worker at the first predicate."""
    with pytest.raises(ValueError):
        DepPattern(pred_from="upos")
