"""The per-sentence Semgrex interpreter (operators.semgrex.match_tree) on
hand-built parses.  The expected rows are what the relational compiler
(``match_semgrex``, a join fan over the words table, removed when every
Semgrex surface moved onto the interpreter) returned for the same
sentences and patterns, so each corner of the grammar keeps its old
answer.  No Spark."""

import pytest

from stanza_spark.operators.semgrex import match_tree, parse_semgrex


def _w(text, upos, lemma, head, deprel):
    return dict(text=text, upos=upos, lemma=lemma, head=head, deprel=deprel)


SENTENCES = [
    # 0: flat-expanded subject, two obl each with a case child
    [_w("Barack", "PROPN", "Barack", 3, "nsubj"),
     _w("Obama", "PROPN", "Obama", 1, "flat"),
     _w("moved", "VERB", "move", 0, "root"),
     _w("to", "ADP", "to", 5, "case"),
     _w("Tokyo", "PROPN", "Tokyo", 3, "obl"),
     _w("in", "ADP", "in", 7, "case"),
     _w("1999", "NUM", "1999", 3, "obl"),
     _w(".", "PUNCT", ".", 3, "punct")],
    # 1: two roots (a forest); the punct hangs off the first
    [_w("He", "PRON", "he", 2, "nsubj"),
     _w("left", "VERB", "leave", 0, "root"),
     _w("and", "CCONJ", "and", 5, "cc"),
     _w("she", "PRON", "she", 5, "nsubj"),
     _w("stayed", "VERB", "stay", 0, "root"),
     _w(".", "PUNCT", ".", 2, "punct")],
    # 2: det descendants tie at depth 2: a(3) under book, the(6) under house
    [_w("Ann", "PROPN", "Ann", 2, "nsubj"),
     _w("sent", "VERB", "send", 0, "root"),
     _w("a", "DET", "a", 4, "det"),
     _w("book", "NOUN", "book", 2, "obj"),
     _w("to", "ADP", "to", 8, "case"),
     _w("the", "DET", "the", 8, "det"),
     _w("big", "ADJ", "big", 8, "amod"),
     _w("house", "NOUN", "house", 2, "obl"),
     _w(".", "PUNCT", ".", 2, "punct")],
    # 3: a verb without a lemma
    [_w("Kim", "PROPN", "Kim", 2, "nsubj"),
     _w("zorbed", "VERB", None, 0, "root"),
     _w("Seoul", "PROPN", "Seoul", 2, "obj"),
     _w(".", "PUNCT", ".", 2, "punct")],
    # 4: the predicate itself has a flat child
    [_w("Lee", "PROPN", "Lee", 2, "nsubj"),
     _w("ran", "VERB", "run", 0, "root"),
     _w("home", "NOUN", "home", 2, "flat"),
     _w("Rome", "PROPN", "Rome", 2, "obj"),
     _w(".", "PUNCT", ".", 2, "punct")],
    # 5: two identical (case, governor) pairs; cc at depth 4 below root
    [_w("We", "PRON", "we", 2, "nsubj"),
     _w("met", "VERB", "meet", 0, "root"),
     _w("in", "ADP", "in", 4, "case"),
     _w("May", "PROPN", "May", 2, "obl"),
     _w("and", "CCONJ", "and", 7, "cc"),
     _w("in", "ADP", "in", 7, "case"),
     _w("May", "PROPN", "May", 4, "conj"),
     _w(".", "PUNCT", ".", 2, "punct")],
]

#: pattern -> (sentence index, root lemma, named surfaces …) rows
CASES = {
    # < to head 0: bare (NULL column) and with attributes (never binds 0)
    "{upos:VERB}=v <root=g {}": [
        (0, "move", None), (1, "leave", None), (1, "stay", None),
        (2, "send", None), (3, None, None), (4, "run", None),
        (5, "meet", None)],
    "{upos:VERB}=v <root=g {upos:VERB}": [],
    # a > group and a >> below a head-0 governor: its children are the
    # sentence's root words; cc sits at depth 4 in sentence 5
    "{upos:VERB}=v <root=top ({} >root=first {})": [
        (0, "move", None, "moved"), (1, "leave", None, "left"),
        (1, "stay", None, "left"), (2, "send", None, "sent"),
        (3, None, None, "zorbed"), (4, "run", None, "ran home"),
        (5, "meet", None, "met")],
    "{upos:PRON}=p <nsubj ({} <root=top ({} >>cc=c {}))": [
        (1, "he", None, "and"), (1, "she", None, "and")],
    # optional <: governor attributes fail / own deprel fails -> NULL
    "{upos:ADP}=a ?<case=h {upos:PROPN}": [
        (0, "in", None), (0, "to", "Tokyo"), (2, "to", None),
        (5, "in", "May"), (5, "in", "May")],
    "{upos:PROPN}=n ?<obl=v {}": [
        (0, "Barack", None), (0, "Obama", None), (0, "Tokyo", "moved"),
        (2, "Ann", None), (3, "Kim", None), (3, "Seoul", None),
        (4, "Lee", None), (4, "Rome", None), (5, "May", "met"),
        (5, "May", None)],
    # >> tie at equal depth (word order wins), regex >>, plain >>
    "{upos:VERB}=v >>det=d {}": [(2, "send", "a")],
    "{upos:VERB}=v >>/det|amod/=m {}": [(2, "send", "a")],
    "{upos:VERB}=v >>case=c {} >obl=o {}": [
        (0, "move", "to", "Tokyo"), (2, "send", "to", "house"),
        (5, "meet", "in", "May")],
    # regex !> (whole-name anchored: /ob/ vetoes neither obj nor obl)
    "{upos:VERB}=v !>/pun.*/ {}": [(1, "stay")],
    "{upos:VERB}=v !>/ob/ {} >nsubj=s {}": [
        (0, "move", "Barack Obama"), (1, "leave", "He"), (1, "stay", "she"),
        (2, "send", "Ann"), (3, None, "Kim"), (4, "run", "Lee"),
        (5, "meet", "We")],
    # lemma:/re/ never matches a None lemma; a None root lemma is emitted
    "{lemma:/.*/}=x >nsubj=s {}": [
        (0, "move", "Barack Obama"), (1, "leave", "He"), (1, "stay", "she"),
        (2, "send", "Ann"), (4, "run", "Lee"), (5, "meet", "We")],
    "{upos:VERB}=v >obj=o {lemma:/Se.*/}": [(3, None, "Seoul")],
    # a named flat dependent keeps its own text; a governor span expands
    "{upos:VERB}=v >nsubj=s ({} >flat=f {})": [
        (0, "move", "Barack Obama", "Obama")],
    "{upos:PROPN}=x <nsubj=g {}": [
        (0, "Barack", "moved"), (2, "Ann", "sent"), (3, "Kim", "zorbed"),
        (4, "Lee", "ran home")],
    "{upos:VERB}=v >flat=f {}": [(4, "run", "home")],
    # the first obl is selected, then its nested clause is required: in
    # sentence 0 Tokyo's case is "to", and 1999 is never re-chosen
    "{upos:VERB}=v >obl=o ({} >case=c {lemma:/in/})": [
        (5, "meet", "May", "in")],
    "{upos:ADP}=p <case=h {}": [
        (0, "in", "1999"), (0, "to", "Tokyo"), (2, "to", "house"),
        (5, "in", "May"), (5, "in", "May")],
}

#: the rows of ``uniq=True`` where they differ: a repeat within one
#: sentence collapses
UNIQ_CASES = {
    "{upos:ADP}=a ?<case=h {upos:PROPN}": [
        (0, "in", None), (0, "to", "Tokyo"), (2, "to", None),
        (5, "in", "May")],
    "{upos:ADP}=p <case=h {}": [
        (0, "in", "1999"), (0, "to", "Tokyo"), (2, "to", "house"),
        (5, "in", "May")],
}


@pytest.mark.parametrize("uniq", [False, True])
@pytest.mark.parametrize("pattern", list(CASES))
def test_match_tree_keeps_the_relational_answers(pattern, uniq):
    root = parse_semgrex(pattern)
    got = [(s_i, *row) for s_i, words in enumerate(SENTENCES)
           for row in match_tree(words, root, uniq)]
    want = UNIQ_CASES.get(pattern, CASES[pattern]) if uniq \
        else CASES[pattern]
    assert sorted(got, key=repr) == sorted(want, key=repr)


@pytest.mark.parametrize("pattern", ["{upos:VERB}=url >obl=o {}",
                                     "{upos:VERB}=v >obl=sent_id {}"])
def test_parse_rejects_key_column_names(pattern):
    """A node named like a key column would clash with the url/sent_id
    columns of every match row: it fails at parse, not in a worker."""
    with pytest.raises(ValueError, match="key column"):
        parse_semgrex(pattern)
