"""CoNLL-U codec (SURVEY §2.2 I1-I3): parse CoNLL-U text into sentence
dicts and render it back byte-for-byte, and render one annotated document
in the reference's ``{:C}`` format.

Format per the reference implementation (/root/reference/stanza/utils/
conll.py:19-124: 10 tab-separated fields, ``#`` comment lines, ``n-m``
multi-word-token ranges) with the reference's misc extensions
(``start_char=..|end_char=..|ner=..``, doc.py:1003-1124 and the golden
rendering in tests/pipeline/test_english_pipeline.py:89-122).

All three are driver-side string functions: ``render_document`` is what
``api.Pipeline.conllu`` returns.  There is no DataFrame ingest or writer
(the reference's process_conllu path is not provided).
"""

from __future__ import annotations

FIELDS = ["id", "form", "lemma", "upos", "xpos", "feats",
          "head", "deprel", "deps", "misc"]


def parse_conllu(text: str, ignore_gapping: bool = False):
    """CoNLL-U text -> list of sentence dicts
    {doc_id, sentences: [{meta, comments, words, mwts, empties}]}.  MWT
    ranges (``n-m``) become the token grouping; empty (enhanced-only)
    nodes (``n.m``, UD ellipsis) are KEPT as ``empties`` with tuple ids —
    the reference's ``ignore_gapping=False`` path (conll.py:65-85,
    Sentence.empty_words doc.py:782-801); pass ``ignore_gapping=True`` for
    the reference's default drop-them behavior (conll.py:43-44).

    Comments are kept VERBATIM and in order (``comments``) in addition to
    the parsed ``meta`` map, and MWT/empty lines keep their full field
    sets, so ``render_parsed`` can reproduce the reference's ``{:C}``
    output byte-for-byte — INCLUDING ellipsis nodes — (the round-trip
    contract of write_doc2conll, conll.py:204-216)."""
    docs = []
    cur_doc = None
    sent_words, sent_meta, sent_comments = [], {}, []
    sent_mwts, sent_empties = [], []

    def flush_sentence():
        nonlocal sent_words, sent_meta, sent_comments, sent_mwts, \
            sent_empties
        if sent_words:
            cur_doc["sentences"].append(
                {"meta": sent_meta, "comments": sent_comments,
                 "words": sent_words, "mwts": sent_mwts,
                 "empties": sent_empties})
        sent_words, sent_meta, sent_comments = [], {}, []
        sent_mwts, sent_empties = [], []

    def new_doc(doc_id):
        nonlocal cur_doc
        cur_doc = {"doc_id": doc_id, "sentences": []}
        docs.append(cur_doc)

    new_doc("doc0")
    mwt_range, mwt_form = None, None
    for line in text.splitlines():
        line = line.rstrip("\n")
        if not line.strip():
            flush_sentence()
            continue
        if line.startswith("#"):
            handled_doc = False
            if "=" in line:
                k, v = line[1:].split("=", 1)
                k, v = k.strip(), v.strip()
                if k in ("newdoc id", "doc_id"):
                    flush_sentence()
                    if cur_doc["sentences"] or sent_words:
                        new_doc(v)
                    else:
                        cur_doc["doc_id"] = v
                    handled_doc = True
                else:
                    sent_meta[k] = v
            if not handled_doc:
                sent_comments.append(line)
            continue
        cols = line.split("\t")
        if len(cols) != 10:
            continue
        wid = cols[0]
        if "." in wid:
            if not ignore_gapping:
                a, b = wid.split(".", 1)
                sent_empties.append({"anchor": int(a), "index": int(b),
                                     "cols": cols})
            continue
        if "-" in wid:
            a, b = wid.split("-")
            mwt_range, mwt_form = (int(a), int(b)), cols[1]
            sent_mwts.append({"first": int(a), "last": int(b),
                              "cols": cols})
            continue
        w = dict(zip(FIELDS, cols))
        w["id"] = int(wid)
        if mwt_range and mwt_range[0] <= w["id"] <= mwt_range[1]:
            w["mwt_form"] = mwt_form
            w["is_mwt"] = True
            if w["id"] == mwt_range[1]:
                mwt_range, mwt_form = None, None
        else:
            w["is_mwt"] = False
        sent_words.append(w)
    flush_sentence()
    return [d for d in docs if d["sentences"]]


def render_parsed(docs) -> str:
    """Parsed docs (parse_conllu output) -> CoNLL-U text, rebuilt from the
    structured fields: comments in original order, MWT range lines at
    their position, 10 tab fields per word.  render_parsed(parse_conllu(x))
    is byte-identical to x for any reference ``{:C}`` rendering —
    asserted against the reference golden in tests/test_conllu.py."""
    out = []
    for d in docs:
        for s in d["sentences"]:
            out.extend(s["comments"])
            mwt_at = {m["first"]: m for m in s["mwts"]}
            empties_at = {}
            for e in s.get("empties", ()):  # n.m prints after word n,
                empties_at.setdefault(e["anchor"], []).append(e)  # m asc
            # a 0.m node (ellipsis before the first word) prints first
            for e in sorted(empties_at.get(0, []), key=lambda e: e["index"]):
                out.append("\t".join(e["cols"]))
            for w in s["words"]:
                if w["id"] in mwt_at:
                    out.append("\t".join(mwt_at[w["id"]]["cols"]))
                out.append("\t".join(
                    str(w[f]) if f != "id" else str(w["id"])
                    for f in FIELDS))
                for e in sorted(empties_at.get(w["id"], []),
                                key=lambda e: e["index"]):
                    out.append("\t".join(e["cols"]))
            out.append("")
    return "\n".join(out).rstrip("\n")


def escape_misc_space(space: str) -> str:
    """The reference's MISC whitespace escaping
    (/root/reference/stanza/models/common/utils.py:693-713)."""
    table = {" ": "\\s", "\t": "\\t", "\r": "\\r", "\n": "\\n",
             "|": "\\p", "\\": "\\\\", "\u00a0": "\\u00A0"}
    return "".join(table.get(ch, ch) for ch in space)


def _space_after_misc(gap: str) -> str | None:
    """space_after_to_misc (utils.py:762-771): '' -> SpaceAfter=No,
    single space -> no annotation, anything else escaped SpacesAfter."""
    if gap == "":
        return "SpaceAfter=No"
    if gap == " ":
        return None
    return "SpacesAfter=" + escape_misc_space(gap)


def render_document(text: str) -> str:
    """Run the full deterministic pipeline over one document and render
    the reference's ``{:C}`` format byte-for-byte: ``# text`` /
    ``# sent_id`` / ``# constituency`` / ``# sentiment`` comments, the 10
    CoNLL-U fields, and SpaceAfter/SpacesAfter + start/end/ner misc —
    asserted equal to the reference golden EN_DOC_CONLLU_GOLD
    (test_english_pipeline.py:89-122) in tests/test_conllu.py."""
    import re as _re

    from .. import vocab as V
    from ..operators.annotate import annotate_sentences
    from ..operators.constituency import sentence_tree

    sents = list(annotate_sentences(text))
    # token-level inter-token whitespace across the WHOLE document,
    # including the trailing run (doc.py:92-110 mark_whitespace)
    tok_stream = []  # (sent_idx, token_id, start, end)
    for si, (_sid, _ss, _se, words) in enumerate(sents):
        seen = set()
        for w in words:
            if w["token_id"] not in seen:
                seen.add(w["token_id"])
                tok_stream.append((si, w["token_id"], w["start"], w["end"]))
    gaps = {}
    for cur, nxt in zip(tok_stream, tok_stream[1:]):
        gaps[(cur[0], cur[1])] = text[cur[3]:nxt[2]]
    if tok_stream:
        last = tok_stream[-1]
        gaps[(last[0], last[1])] = text[last[3]:]

    pos_set = set(V.SENTIMENT_POS)
    neg_set = set(V.SENTIMENT_NEG)
    blocks = []
    for si, (sent_id, ss, se, words) in enumerate(sents):
        stext = text[ss:se]
        toks = [t for t in _re.split("[^a-z]+", stext.lower()) if t]
        pos = sum(t in pos_set for t in toks)
        neg = sum(t in neg_set for t in toks)
        sentiment = 2 if pos > neg else (0 if neg > pos else 1)
        lines = [
            f"# text = {stext}",
            f"# sent_id = {sent_id}",
            f"# constituency = {sentence_tree(words)}",
            f"# sentiment = {sentiment}",
        ]
        last_word_of_token = {}
        for wi, w in enumerate(words):
            last_word_of_token[w["token_id"]] = wi
        for wi, w in enumerate(words):
            misc = []
            if last_word_of_token[w["token_id"]] == wi:
                sp = _space_after_misc(gaps.get((si, w["token_id"]), " "))
                if sp:
                    misc.append(sp)
            misc += [f"start_char={w['start']}", f"end_char={w['end']}",
                     f"ner={w['ner']}"]
            lines.append("\t".join([
                str(wi + 1), w["text"], w["lemma"], w["upos"], w["xpos"],
                w["feats"], str(w["head"]), w["deprel"], "_",
                "|".join(misc)]))
        blocks.append("\n".join(lines))
    return "\n\n".join(blocks)
