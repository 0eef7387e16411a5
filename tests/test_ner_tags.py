"""NER tag-scheme algorithms vs the reference's own test cases and
measured behavior (/root/reference/stanza/tests/ner/test_ner_utils.py and
stanza/models/ner/utils.py run standalone).  Pure Python — no Spark."""

import pytest

from stanza_spark.operators.ner_tags import decode_from_bioes, merge_tags

# every case's expected value is the measured output of the reference's
# decode_from_bioes on the same input (malformed sequences included)
DECODE_CASES = [
    (["I-PER", "I-PER", "O"], [(0, 1, "PER")]),
    (["E-PER"], [(0, 0, "PER")]),
    (["B-PER", "O", "S-ORG"], [(0, 0, "PER"), (2, 2, "ORG")]),
    (["B-PER", "I-ORG", "E-LOC"], [(0, 2, "LOC")]),
    (["O", "I-PER"], [(1, 1, "PER")]),
    ([None, "S-X", None], [(1, 1, "X")]),
    (["S-A", "S-B"], [(0, 0, "A"), (1, 1, "B")]),
    (["B-PER", "E-PER", "E-PER"], [(0, 1, "PER"), (2, 2, "PER")]),
    (["I-PER", "B-ORG", "E-ORG"], [(0, 0, "PER"), (1, 2, "ORG")]),
    (["B-PER", "S-ORG"], [(0, 0, "PER"), (1, 1, "ORG")]),
    (["I-PER", "O", "I-PER"], [(0, 0, "PER"), (2, 2, "PER")]),
]


def test_decode_from_bioes_reference_cases():
    for tags, want in DECODE_CASES:
        got = [(s["start"], s["end"], s["type"])
               for s in decode_from_bioes(tags)]
        assert got == want, tags


def test_merge_tags_reference_golden():
    # transcribed from test_ner_utils.py:94-128
    seq1 = ["O", "O", "O", "B-FOO", "E-FOO", "O"]
    seq2 = ["S-FOO", "O", "B-FOO", "E-FOO", "O", "O"]
    seq3 = ["B-FOO", "E-FOO", "B-FOO", "E-FOO", "O", "O"]
    assert merge_tags(seq1, seq2) == \
        ["S-FOO", "O", "O", "B-FOO", "E-FOO", "O"]
    assert merge_tags(seq2, seq1) == \
        ["S-FOO", "O", "B-FOO", "E-FOO", "O", "O"]
    assert merge_tags(seq1, seq3) == \
        ["B-FOO", "E-FOO", "O", "B-FOO", "E-FOO", "O"]


def test_merge_tags_malformed_raise():
    seq1 = ["O", "O", "O", "B-FOO", "E-FOO", "O"]
    for bad in (["O", "B-FOO", "O", "B-FOO", "E-FOO", "O"],
                ["O", "B-FOO", "O", "B-FOO", "B-FOO", "O"],
                ["O", "B-FOO", "O", "B-FOO", "I-FOO", "O"],
                ["O", "B-FOO", "O", "B-FOO", "I-FOO", "I-FOO"]):
        with pytest.raises(ValueError):
            merge_tags(seq1, bad)
