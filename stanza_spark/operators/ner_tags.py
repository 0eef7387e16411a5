"""NER tag-scheme algorithms with reference-identical semantics:

* ``decode_from_bioes`` — the sequential span decode
  (stanza/models/ner/utils.py:218-264), kept as the unit anchor the
  distributed SQL decode (operators.mentions) is differential-tested
  against, including the reference's malformed-sequence behavior
  (leading I-, unclosed B-, mixed types resolve to the *last* tag's
  type);
* ``merge_tags`` — multi-model merge with earlier-model precedence
  (ner/utils.py:267-314): later models only fill regions that are
  entirely O in the running merge, and malformed later sequences raise.

These run per-sentence inside Arrow batches or driver-side on fixtures —
they are deliberately plain Python; the corpus-scale forms are the SQL
decode (mentions.py) and the span-level relational merge (ner_merge.py).
"""

from __future__ import annotations


def decode_from_bioes(tags: list) -> list:
    """BIOES tags -> [{'start', 'end', 'type'}] with the reference's exact
    state machine (ner/utils.py:218-264): None counts as O; I-/E- extend
    the open span and overwrite its type; a trailing open span flushes."""
    spans = []
    idxs: list[int] = []
    cur = None

    def flush():
        if idxs:
            spans.append({"start": idxs[0], "end": idxs[-1], "type": cur})

    for i, tag in enumerate(tags):
        tag = "O" if tag is None else tag
        if tag == "O":
            flush()
            idxs = []
        elif tag.startswith("B-"):
            flush()
            idxs = [i]
            cur = tag[2:]
        elif tag.startswith("I-"):
            idxs.append(i)
            cur = tag[2:]
        elif tag.startswith("E-"):
            idxs.append(i)
            cur = tag[2:]
            flush()
            idxs = []
        elif tag.startswith("S-"):
            flush()
            idxs = [i]
            cur = tag[2:]
            flush()
            idxs = []
    flush()
    return spans


def merge_tags(*sequences: list) -> list:
    """Merge BIOES sequences with earlier-model precedence
    (ner/utils.py:267-314): only all-O stretches of the running merge may
    be overwritten by a later model's complete S- or B-..E- block; a later
    sequence that is not well-formed BIOES raises ValueError."""
    merged = list(sequences[0])
    for seq in sequences[1:]:
        i = 0
        while i < len(seq):
            tag = seq[i]
            if tag == "O":
                i += 1
            elif tag.startswith("S-"):
                if merged[i] == "O":
                    merged[i] = tag
                i += 1
            elif tag.startswith("B-"):
                j = i + 1
                while j < len(seq):
                    if seq[j][2:] != tag[2:]:
                        raise ValueError(
                            f"Unexpected tag sequence at idx {j}: {seq}")
                    if seq[j].startswith("E-"):
                        break
                    if not seq[j].startswith("I-"):
                        raise ValueError(
                            f"Unexpected tag sequence at idx {j}: {seq}")
                    j += 1
                if j == len(seq):
                    raise ValueError(
                        f"Got a sequence with an unclosed tag: {seq}")
                if all(t == "O" for t in merged[i:j + 1]):
                    merged[i:j + 1] = seq[i:j + 1]
                i = j + 1
            else:
                raise ValueError(
                    f"Got unexpected tag sequence at idx {i}: {seq}")
    return merged
