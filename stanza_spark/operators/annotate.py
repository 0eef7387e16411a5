"""Deterministic annotation stage: tokenize + ssplit, MWT, POS, lemma, NER
tagging and dependency parsing — the Spark-native re-expression of the
reference pipeline `tokenize → mwt → pos → lemma → depparse → ner`
(/root/reference/stanza/pipeline/core.py:22-31).

Architecture (SURVEY.md §2.1 op 8-17):

* The reference's neural models are replaced by deterministic rule engines
  whose outputs reproduce the reference's golden fixtures exactly
  (test_english_pipeline.py:20-41) — see the lexicons in
  :mod:`stanza_spark.vocab`.
* The Spark surface is a single **narrow** ``mapInPandas`` pass: pages in,
  flat word rows out.  No shuffle anywhere in annotation — document
  boundaries don't matter to the annotators (the reference exploits the
  same fact in ``UDProcessor.bulk_process``,
  /root/reference/stanza/pipeline/processor.py:242-260), so Arrow batches
  spanning pages give cluster-wide batching for free.
* Char offsets index into the *original* page text (the reference computes
  offsets the same way: incremental search against raw text,
  /root/reference/stanza/models/tokenization/utils.py:509-533).  One byte of
  drift breaks every downstream join — offsets are the join key between
  layers (doc.py:1285-1293).

URL/email tokens are forced single tokens before ordinary tokenization, the
reference's MASK_RE override (tokenization/utils.py:199-248).  MWT expansion
is the dict path of mwt/trainer.py:168-177.  BIOES tags follow
ner/utils.py:218-264 conventions (B/I/E/S/O).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

from .. import vocab as V
from ..langpacks import FR_CLITICS, LANG_PACKS

TOKEN_PAT = re.compile(V.TOKEN_RE)
WORD_PAT = re.compile(V.WORD_RE + r"\Z")
NUM_PAT = re.compile(V.NUM_RE + r"\Z")
URL_PAT = re.compile(f"(?:{V.URL_RE}|{V.EMAIL_RE})" + r"\Z")
CAP_PAT = re.compile(V.CAP_TOKEN_RE + r"\Z")
YEAR_PAT = re.compile(r"[0-9]{4}\Z")

SENT_END = {".", "!", "?", "。", "！", "？"}

# --- reference-verbatim web-text overrides -------------------------------
# EMAIL_RAW_RE / URL_RAW_RE ported with identical semantics from
# /root/reference/stanza/models/tokenization/utils.py:199-205 (themselves
# public StackOverflow validators cited there).  Matches are forced into
# single tokens exactly like the reference's `update_pred_regex`
# (utils.py:225-248): no split inside the span, word-split at its end.
# Behavioral notes (all asserted in tests/test_annotate.py against the
# reference regexes): `www.x.org`/`a.co.uk` mask; bare `example.com` does
# NOT; a trailing `.` or `)` glued to a URL is swallowed into the token;
# emails are lowercase-only.
EMAIL_RAW_RE = (
    r"(?:[a-z0-9!#$%&'*+/=?^_`{|}~-]+(?:\.[a-z0-9!#$%&'*+/=?^_`{|}~-]+)*"
    r"|\"(?:[\x01-\x08\x0b\x0c\x0e-\x1f\x21\x23-\x5b\x5d-\x7f]"
    r"|\\[\x01-\x09\x0b\x0c\x0e-\x7f])*\")"
    r"@(?:(?:[a-z0-9](?:[a-z0-9-]*[a-z0-9])?\.)+[a-z0-9](?:[a-z0-9-]*[a-z0-9])?"
    r"|\[(?:(?:(?:2(?:5[0-5]|[0-4][0-9])|1[0-9][0-9]|[1-9]?[0-9]))\.){3}"
    r"(?:(?:2(?:5[0-5]|[0-4][0-9])|1[0-9][0-9]|[1-9]?[0-9])"
    r"|[a-z0-9-]*[a-z0-9]:"
    r"(?:[\x01-\x08\x0b\x0c\x0e-\x1f\x21-\x5a\x53-\x7f]"
    r"|\\[\x01-\x09\x0b\x0c\x0e-\x7f])+)\])")
URL_RAW_RE = (
    r"(?:https?:\/\/(?:www\.|(?!www))[a-zA-Z0-9][a-zA-Z0-9-]+[a-zA-Z0-9]"
    r"\.[^\s\"]{2,}"
    r"|www\.[a-zA-Z0-9][a-zA-Z0-9-]+[a-zA-Z0-9]\.[^\s\"]{2,}"
    r"|https?:\/\/(?:www\.|(?!www))[a-zA-Z0-9]+\.[^\s\"]{2,}"
    r"|www\.[a-zA-Z0-9]+\.[^\s\"]{2,})"
    r"|[a-zA-Z0-9]+\.(?:gov|org|edu|net|com|co)(?:\.[^\s\"]{2,})")
MASK_PAT = re.compile(f"(?:{EMAIL_RAW_RE}|{URL_RAW_RE})")

# Paragraphs split on blank lines (C1 controls count as blank), exactly
# the reference's NEWLINE_WHITESPACE_RE
# (/root/reference/stanza/models/tokenization/data.py:124,152-154); a
# paragraph boundary always ends the current sentence.
NEWLINE_WS_PAT = re.compile(r"\n[\s\u0080-\u009f]*\n")


def split_paragraphs(text: str):
    """-> [(start, end)] paragraph spans into the raw text (blank-line
    split; whitespace-only chunks dropped, mirroring the reference's
    rstrip-and-skip, data.py:152-154).  Offsets stay raw — downstream
    char offsets index the original page bytes."""
    spans = []
    start = 0
    for m in NEWLINE_WS_PAT.finditer(text):
        spans.append((start, m.start()))
        start = m.end()
    spans.append((start, len(text)))
    return [(a, b) for a, b in spans if text[a:b].strip()]


def tokenize_span(text: str, start: int, end: int):
    """Tokens [(tok, abs_start, abs_end)] of text[start:end]: MASK_PAT
    spans become single tokens (the update_pred_regex override); ordinary
    TOKEN_RE tokenization elsewhere."""
    seg = text[start:end]
    out = []
    pos = 0
    for m in MASK_PAT.finditer(seg):
        a, b = m.span()
        if a < pos:
            continue
        out.extend((t.group(0), start + t.start(), start + t.end())
                   for t in TOKEN_PAT.finditer(seg, pos, a))
        out.append((seg[a:b], start + a, start + b))
        pos = b
    out.extend((t.group(0), start + t.start(), start + t.end())
               for t in TOKEN_PAT.finditer(seg, pos))
    return out

ALIAS_TYPE = {}   # lower(alias) -> entity_type
for _a, _e, _c, _t in V.alias_rows():
    ALIAS_TYPE.setdefault(_a.lower(), _t)

CLOSED_LEMMA = {"was": "be", "is": "be", "were": "be", "are": "be",
                "n't": "not", "'s": "'s", "'re": "be", "'m": "be",
                "'ve": "have", "'ll": "will", "'d": "would",
                "ca": "can", "wo": "will"}

PUNCT_XPOS = {".": ".", ",": ",", ":": ":", "(": "-LRB-", ")": "-RRB-",
              "!": ".", "?": ".", '"': "''", "。": ".", "！": ".", "？": "."}

SYM_CHARS = set("%$€£+=#@~^|&*")


# ---------------------------------------------------------------------------
# tokenize + sentence split (ops 8-12)
# ---------------------------------------------------------------------------

def split_sentences(text: str):
    """-> list of sentences: (start, end, [(tok_text, start, end), ...]).

    Preprocessing follows the reference tokenizer exactly: the page is
    first split into paragraphs on blank lines (data.py:124,152-154) and a
    paragraph boundary always terminates the open sentence, even without
    closing punctuation.  Within a paragraph the boundary falls after any
    [.!?] (and CJK equivalents) punctuation token — decided on the token
    stream like the reference's per-char prediction classes
    (/root/reference/stanza/models/tokenization/data.py:5-14).  MASK_PAT
    spans (URLs/emails) are single tokens, so ``.html`` inside a URL can
    never split a sentence — and a URL token that swallowed a trailing
    ``.`` (reference behavior) does not end the sentence either.
    """
    sents = []
    for pstart, pend in split_paragraphs(text):
        cur = []
        for tok, a, b in tokenize_span(text, pstart, pend):
            cur.append((tok, a, b))
            if tok in SENT_END:
                sents.append(cur)
                cur = []
        if cur:
            sents.append(cur)
    return [(toks[0][1], toks[-1][2], toks) for toks in sents if toks]


def make_elision_splitter(clitics):
    """Romance elision segmenter kernel (langpacks ``segmenter:
    'elision'``): a clitic whose final vowel is dropped before a
    vowel-initial word stays fused in the raw text ("l'Économie",
    "sull'economia") but is TWO tokens in UD — the clitic keeps the
    apostrophe, the host word follows with SpaceAfter=No (reference
    golden: test_french_pipeline.py words 16-17).  The straight
    apostrophe arrives fused (TOKEN_RE keeps it word-internal) and is
    split here; the typographic apostrophe arrives as its own token and
    is merged onto the clitic instead.  ``clitics`` is the pack's
    language-specific alternation (fr: l/d/qu/jusqu...; it:
    l/un/dell/sull...)."""
    alt = "|".join(sorted(clitics, key=len, reverse=True))
    elision_pat = re.compile(rf"^({alt})(['’])(.+)$", re.IGNORECASE)
    clitic_pat = re.compile(rf"^({alt})$", re.IGNORECASE)

    def split(text: str):
        out = []
        for s_start, s_end, toks in split_sentences(text):
            split_toks = []
            i = 0
            while i < len(toks):
                tok, a, b = toks[i]
                m = elision_pat.match(tok)
                if m:
                    cut = a + len(m.group(1)) + 1
                    split_toks.append((tok[:cut - a], a, cut))
                    split_toks.append((tok[cut - a:], cut, b))
                elif (clitic_pat.match(tok) and i + 1 < len(toks)
                      and toks[i + 1][0] == "’" and toks[i + 1][1] == b):
                    split_toks.append((tok + "’", a, toks[i + 1][2]))
                    i += 1
                else:
                    split_toks.append((tok, a, b))
                i += 1
            out.append((s_start, s_end, split_toks))
        return out
    return split


def zh_max_match(text: str, start: int, end: int,
                 seg_dict=None, max_len: int | None = None,
                 run_class=None):
    """Greedy longest-prefix dictionary segmentation of text[start:end] —
    the classical max-match stand-in for the reference's neural Chinese
    char classifier (UNSPACED input; the reference's hardest tokenizer
    case).  Digit runs are one NUM token; whitespace is skipped; unknown
    chars fall back to single-character words.  The dict carries
    single-char PREFIXES of its multi-char entries, so longest-match is
    load-bearing, not incidental.

    ``seg_dict``/``max_len`` default to the zh tables; ``run_class`` is
    an optional predicate — a maximal run of chars satisfying it becomes
    ONE token before dict matching (Japanese katakana loanword runs)."""
    if seg_dict is None:
        seg_dict, max_len = V.ZH_SEG_DICT, V.ZH_SEG_MAX_LEN
    elif max_len is None:
        # a custom dict without an explicit cap: derive it, so
        # seg_dict=X alone can't reach min(None, ...) at match time
        max_len = max(map(len, seg_dict), default=1)
    out = []
    i = start
    while i < end:
        ch = text[i]
        if ch.isspace():
            i += 1
            continue
        if run_class is not None and run_class(ch):
            j = i + 1
            while j < end and run_class(text[j]):
                j += 1
            out.append((text[i:j], i, j))
            i = j
            continue
        if ch.isascii() and ch.isalnum():
            # embedded Latin/numeric material ("GDP", "3.5", urls) keeps
            # the standard tokenizer's semantics — NUM_RE keeps interior
            # [.,] so decimals stay one token instead of char confetti
            m = TOKEN_PAT.match(text, i, end)
            if m is not None and m.start() == i:
                out.append((m.group(0), i, m.end()))
                i = m.end()
                continue
        for L in range(min(max_len, end - i), 0, -1):
            if text[i:i + L] in seg_dict:
                out.append((text[i:i + L], i, i + L))
                i += L
                break
        else:
            out.append((ch, i, i + 1))
            i += 1
    return out


def _is_katakana(ch: str) -> bool:
    return "゠" <= ch <= "ヿ"


def vi_group_tokens(text: str, toks, seg_dict=None, max_syls=None):
    """Vietnamese word segmentation: GROUP adjacent word tokens
    (syllables) into one multi-syllable word by greedy longest
    dictionary match — the third segmentation typology (zh = split
    unspaced runs, vi = MERGE spaced syllables).  Syllables qualify only
    when separated by exactly one space in the source text (a newline or
    double space is a real boundary); matching is lowercased so
    sentence-initial and proper-noun capitalization still group
    ("Báo cáo", "Hà Nội"); the surface keeps the original bytes via the
    text slice, so char offsets stay exact."""
    if seg_dict is None:
        seg_dict, max_syls = V.VI_SEG_DICT, V.VI_SEG_MAX_SYLS
    out = []
    i, n = 0, len(toks)
    while i < n:
        tok, a, b = toks[i]
        grouped = False
        if WORD_PAT.match(tok):
            for L in range(min(max_syls, n - i), 1, -1):
                parts = toks[i:i + L]
                if not all(WORD_PAT.match(p[0]) for p in parts):
                    continue
                if any(parts[k + 1][1] != parts[k][2] + 1
                       or text[parts[k][2]] != " "
                       for k in range(L - 1)):
                    continue
                if " ".join(p[0] for p in parts).lower() in seg_dict:
                    out.append((text[parts[0][1]:parts[-1][2]],
                                parts[0][1], parts[-1][2]))
                    i += L
                    grouped = True
                    break
        if not grouped:
            out.append((tok, a, b))
            i += 1
    return out


def make_vi_splitter(seg_dict, max_syls):
    """Syllable-grouping segmenter kernel (langpacks ``segmenter:
    'vi_group'``): standard sentence split + tokenization, then
    per-sentence syllable grouping (vi_group_tokens) — same
    (start, end, toks) protocol."""
    def split(text: str):
        return [(s, e, vi_group_tokens(text, toks, seg_dict, max_syls))
                for s, e, toks in split_sentences(text)]
    return split


ZH_SENT_END = {"。", "！", "？"}


def make_cjk_splitter(seg_dict, max_len, run_class=None):
    """CJK max-match segmenter kernel (langpacks ``segmenter:
    'zh_maxmatch'`` / ``'ja_mixed'``): sentence boundaries fall ONLY
    after CJK terminators (。！？) — an ASCII '.' inside embedded Latin
    material ('3.5', 'v2.0') must not end a sentence; paragraph breaks
    still force a boundary.  ``run_class`` turns a maximal script run
    into one token before dict matching (ja katakana loanwords)."""
    def split(text: str):
        sents = []
        for pstart, pend in split_paragraphs(text):
            cur = []
            for tok, a, b in zh_max_match(text, pstart, pend,
                                          seg_dict=seg_dict,
                                          max_len=max_len,
                                          run_class=run_class):
                cur.append((tok, a, b))
                if tok in ZH_SENT_END:
                    sents.append(cur)
                    cur = []
            if cur:
                sents.append(cur)
        return [(toks[0][1], toks[-1][2], toks) for toks in sents if toks]
    return split


# ---------------------------------------------------------------------------
# language-pack dispatch: each pack names a segmenter kernel + params;
# splitters are built once per language (executor-local, like the
# reference's loaded-model cache)
# ---------------------------------------------------------------------------

SEGMENTER_KERNELS = {
    "standard": lambda: split_sentences,
    "zh_maxmatch": lambda seg_dict, max_len:
        make_cjk_splitter(seg_dict, max_len),
    "ja_mixed": lambda seg_dict, max_len:
        make_cjk_splitter(seg_dict, max_len, run_class=_is_katakana),
    "vi_group": make_vi_splitter,
    "elision": make_elision_splitter,
}

_PACK_SPLITTERS: dict = {}


def pack_splitter(lang: str):
    """The language's sentence splitter, built from its pack's segmenter
    kernel name + params (cached)."""
    if lang not in _PACK_SPLITTERS:
        pack = LANG_PACKS[lang]
        _PACK_SPLITTERS[lang] = SEGMENTER_KERNELS[pack.segmenter](
            **pack.seg_params)
    return _PACK_SPLITTERS[lang]


# named instances (the zh/ja/vi/fr kernels with their packs' parameters)
split_sentences_zh = make_cjk_splitter(V.ZH_SEG_DICT, V.ZH_SEG_MAX_LEN)
split_sentences_ja = make_cjk_splitter(V.JA_SEG_DICT, V.JA_SEG_MAX_LEN,
                                       run_class=_is_katakana)
split_sentences_vi = make_vi_splitter(V.VI_SEG_DICT, V.VI_SEG_MAX_SYLS)
split_sentences_fr = make_elision_splitter(FR_CLITICS)


# ---------------------------------------------------------------------------
# MWT expansion (op 13)
# ---------------------------------------------------------------------------

def expand_token(tok: str, lang: str = "en"):
    """token text -> list of word texts (len>1 iff MWT); per-language MWT
    dictionaries from the language packs (German APPRART contractions
    im -> in dem; French preposition-article clitics du -> de le;
    Italian sull' -> su l'; Arabic multi-clitic fusions)."""
    lw = tok.lower()
    pack = LANG_PACKS.get(lang)
    mwt = pack.mwt if pack is not None else V.MWT_DICT
    if lw in mwt:
        parts = mwt[lw]
        # preserve original casing on the first part
        if tok[0].isupper():
            first = parts[0].capitalize()
            return [first] + list(parts[1:])
        return list(parts)
    return [tok]


# ---------------------------------------------------------------------------
# POS + lemma (ops 15, 16)
# ---------------------------------------------------------------------------

# open-class fallback kernels (langpacks ``default``): what a word gets
# when the lexicon, numeral, and punctuation rules all miss
DEFAULT_KERNELS = {
    # German: capitalized -> NOUN (nouns capitalize), else X
    "cap_noun_else_x": lambda text, lw, p:
        ("NOUN", p["noun_xpos"], "_", text) if text[0].isupper()
        else ("X", p["x_xpos"], "_", text),
    # romance/vi: capitalized -> PROPN (names), else NOUN (lemma folds)
    "cap_propn_else_noun": lambda text, lw, p:
        ("PROPN", p["propn_xpos"], "_", text) if text[0].isupper()
        else ("NOUN", p["noun_xpos"], "_",
              lw if p.get("noun_lemma") == "lower" else text),
    # caseless scripts: everything unknown is a noun, surface lemma
    "noun": lambda text, lw, p: ("NOUN", p["xpos"], "_", text),
    # Japanese: a katakana run outside the lexicon is a loanword noun
    "ja_script": lambda text, lw, p:
        ("NOUN", p["kata_xpos"] if _is_katakana(text[0]) else p["xpos"],
         "_", text),
}


def tag_word(text: str, lang: str = "en"):
    """-> (upos, xpos, feats, lemma).  Non-English languages resolve
    through their LANG_PACKS entry — lexicon, numeral/punct tags, and
    open-class default are all pack DATA (the executor-local model cache
    of MultilingualPipeline, op 7); English keeps the full bespoke
    pipeline below."""
    lw = text.lower()
    if URL_PAT.match(text):
        return ("X", "ADD", "_", text)
    pack = LANG_PACKS.get(lang)
    if pack is not None:
        if pack.fold_apostrophe:
            lw = lw.replace("’", "'")
        key = text if pack.key == "surface" else lw
        hit = pack.lexicon.get(key)
        if hit is not None:
            return hit
        if NUM_PAT.match(text):
            upos, xpos, feats = pack.num
            return (upos, xpos, feats, text)
        if len(text) == 1 and not text.isalnum():
            return ("PUNCT", pack.punct_xpos, "_", text)
        return DEFAULT_KERNELS[pack.default](text, lw,
                                             pack.default_params)
    if lw in V.VERB_LEXICON:
        xpos, lemma = V.VERB_LEXICON[lw]
        return ("VERB", xpos, V.VERB_FEATS[xpos], lemma)
    if lw in V.CLOSED_CLASS:
        upos, xpos, feats = V.CLOSED_CLASS[lw]
        return (upos, xpos, feats, CLOSED_LEMMA.get(lw, lw))
    if NUM_PAT.match(text):
        return ("NUM", "CD", "NumForm=Digit|NumType=Card", text)
    if len(text) == 1 and not text.isalnum():
        if text in SYM_CHARS:
            return ("SYM", "SYM", "_", text)
        return ("PUNCT", PUNCT_XPOS.get(text, "NFP"), "_", text)
    if text[0].isupper() and CAP_PAT.match(text):
        return ("PROPN", "NNP", "Number=Sing", text)
    # default noun with tiny plural analysis
    if lw in V.LEMMA_EXCEPTIONS:
        return ("NOUN", "NNS", "Number=Plur", V.LEMMA_EXCEPTIONS[lw])
    if lw.endswith("ies") and len(lw) > 4:
        return ("NOUN", "NNS", "Number=Plur", lw[:-3] + "y")
    if lw.endswith("s") and not lw.endswith("ss") and len(lw) > 3:
        return ("NOUN", "NNS", "Number=Plur", lw[:-1])
    return ("NOUN", "NN", "Number=Sing", lw)


# ---------------------------------------------------------------------------
# NER-lite (op 14): capitalized-alpha runs + 4-digit years; keep a run iff
# multi-token OR alias-dictionary hit OR year.  Type from the alias
# gazetteer (broadcast-dict shape, cf. lemma dict lemma/trainer.py:221-234),
# DATE for years, MISC otherwise.  Emits BIOES per word.
# ---------------------------------------------------------------------------

def tag_ner(words):
    """words: list of dicts with 'text','upos'. Returns list of BIOES tags
    and list of mention spans (start_idx, end_idx, type)."""
    n = len(words)
    tags = ["O"] * n
    mentions = []
    i = 0
    while i < n:
        t = words[i]["text"]
        lw = t.lower()
        if CAP_PAT.match(t) and lw not in V.CLOSED_CLASS:
            j = i
            while (j + 1 < n and CAP_PAT.match(words[j + 1]["text"])
                   and words[j + 1]["text"].lower() not in V.CLOSED_CLASS):
                j += 1
            surface = " ".join(w["text"] for w in words[i:j + 1])
            typ = ALIAS_TYPE.get(surface.lower())
            if j > i or typ is not None:
                typ = typ or "MISC"
                mentions.append((i, j, typ))
                if i == j:
                    tags[i] = f"S-{typ}"
                else:
                    tags[i] = f"B-{typ}"
                    for k in range(i + 1, j):
                        tags[k] = f"I-{typ}"
                    tags[j] = f"E-{typ}"
            i = j + 1
        elif YEAR_PAT.match(t):
            tags[i] = "S-DATE"
            mentions.append((i, i, "DATE"))
            i += 1
        else:
            i += 1
    return tags, mentions


# ---------------------------------------------------------------------------
# dependency parse (op 17) — deterministic grammar over UPOS covering the
# reference's golden dependency shapes (test_english_pipeline.py:66-87):
# nsubj / nsubj:pass / obj / xcomp / obl / case / aux / aux:pass / flat /
# det / amod / punct / root.
# ---------------------------------------------------------------------------

NOMINAL = {"NOUN", "PROPN", "NUM", "PRON", "X"}


def parse_sentence(words, lang: str = "en"):
    """words: list of dicts with 'upos','xpos'. Sets 'head' (1-based, 0 =
    root) and 'deprel' in place.

    ``lang='fr'`` enables the French constructions visible in the
    reference's French golden (test_french_pipeline.py:21-313) on top of
    the shared SVO core: fronted predicative advcl with mark/advmod and
    an obl:arg argument, de-phrase nmod attachment to the preceding
    nominal, nominal coordination (conj to the first conjunct, cc on the
    following one, conjunct-attached commas), lexical xcomp verbs
    ("devenir"), obl:mod for case-marked numerals, and flat:name for
    proper-noun runs.  The English path is byte-identical to the
    pre-lang behavior."""
    n = len(words)
    heads = [0] * n
    rels = ["dep"] * n
    fr = lang == "fr"
    flat_rel = "flat:name" if fr else "flat"
    done = set()   # indices the fr constructions pre-assigned

    root = next((i for i, w in enumerate(words) if w["upos"] == "VERB"), None)
    if root is None:
        root = next((i for i, w in enumerate(words) if w["upos"] in NOMINAL), 0)
    # participle xpos per language: en VBN, de VVPP, fr VPP
    passive = (words[root]["xpos"] in ("VBN", "VVPP", "VPP")
               and any(w["upos"] == "AUX" for w in words[:root]))

    # nominal spans; PROPN runs get flat-attached to their first word
    spans = []  # (first, last)
    i = 0
    while i < n:
        u = words[i]["upos"]
        if u == "PROPN":
            j = i
            while j + 1 < n and words[j + 1]["upos"] == "PROPN":
                j += 1
            for k in range(i + 1, j + 1):
                heads[k] = i + 1
                rels[k] = flat_rel
            spans.append((i, j))
            i = j + 1
        elif u in ("NOUN", "NUM", "PRON", "X"):
            spans.append((i, i))
            i += 1
        else:
            i += 1

    # fronted predicative phrase (fr): ADV* ADJ ... "," before the verbal
    # root -> the ADJ heads an advcl of the root; its ADVs are mark (a
    # lexicalized set) or advmod; a case-marked nominal inside the phrase
    # is the predicative's argument (obl:arg); the closing comma attaches
    # to the ADJ ("Alors encore inconnu du grand public," golden 1-8)
    fronted_adj = fronted_end = None
    if fr and root is not None and words[root]["upos"] == "VERB":
        i0 = 0
        while i0 < root and words[i0]["upos"] == "ADV":
            i0 += 1
        if 0 < i0 < root and words[i0]["upos"] == "ADJ":
            comma = next((k for k in range(i0 + 1, root)
                          if words[k]["text"] == ","), None)
            if comma is not None:
                fronted_adj, fronted_end = i0, comma
                heads[i0] = root + 1
                rels[i0] = "advcl"
                for k in range(i0):
                    heads[k] = i0 + 1
                    rels[k] = ("mark" if words[k]["lemma"] in V.FR_MARK_ADVS
                               else "advmod")
                    done.add(k)
                heads[comma] = i0 + 1
                rels[comma] = "punct"
                done.update((i0, comma))

    def in_fronted(a):
        return (fronted_adj is not None
                and fronted_adj < a < fronted_end)

    subj_spans = [s for s in spans
                  if s[0] < root and not (s[0] <= root <= s[1])
                  and not in_fronted(s[0])]
    post_spans = [s for s in spans if s[0] > root]
    in_root_span = next((s for s in spans if s[0] <= root <= s[1]), None)

    seen_direct_obj = False
    coord_head = None        # first conjunct of an open fr nmod chain
    prev_post_nominal = None  # nearest preceding post-root span head
    for (a, b) in spans:
        if (a, b) == in_root_span and root >= 0 and words[root]["upos"] != "VERB":
            continue  # span containing a nominal root
        if a <= root <= b:
            continue
        if a < root:
            if in_fronted(a):
                # predicative argument inside the fronted phrase
                heads[a] = fronted_adj + 1
                rels[a] = "obl:arg"
                done.add(a)
            elif subj_spans and (a, b) == subj_spans[-1]:
                heads[a] = root + 1
                rels[a] = "nsubj:pass" if passive else "nsubj"
            else:
                heads[a] = root + 1
                rels[a] = "dep"
            continue
        # post-root span: case-marked -> obl; else first direct nominal
        k = a - 1
        while k > root and words[k]["upos"] in ("DET", "ADJ"):
            k -= 1
        if k > root and words[k]["upos"] == "ADP":
            attached = False
            if fr and words[k]["lemma"] in V.FR_NMOD_ADPS:
                # coordination: ", de X" / "et de X" continues the chain
                # opened by the first nmod conjunct
                joiner = next(
                    (j for j in range(
                        (prev_post_nominal if prev_post_nominal is not None
                         else root) + 1, k)
                     if words[j]["upos"] == "CCONJ"
                     or words[j]["text"] == ","), None)
                if coord_head is not None and joiner is not None:
                    heads[a] = coord_head + 1
                    rels[a] = "conj"
                    heads[joiner] = a + 1
                    rels[joiner] = ("cc" if words[joiner]["upos"] == "CCONJ"
                                    else "punct")
                    done.update((a, joiner))
                    attached = True
                elif (prev_post_nominal is not None
                      and words[prev_post_nominal]["upos"] == "NOUN"):
                    # de-phrase modifies the preceding nominal
                    heads[a] = prev_post_nominal + 1
                    rels[a] = "nmod"
                    done.add(a)
                    coord_head = a
                    attached = True
            if not attached:
                heads[a] = root + 1
                rels[a] = ("obl:mod" if fr and words[a]["upos"] == "NUM"
                           else "obl")
        elif not seen_direct_obj:
            heads[a] = root + 1
            rels[a] = ("xcomp" if passive
                       or (fr and words[root]["lemma"] in V.FR_XCOMP_VERBS)
                       else "obj")
            seen_direct_obj = True
        else:
            heads[a] = root + 1
            rels[a] = "dep"
        prev_post_nominal = a

    # functional words attach to the nearest following span head
    span_start = {a: a for (a, b) in spans}
    for i in range(n):
        if i in done:   # pre-assigned by a French construction
            continue
        u = words[i]["upos"]
        if u == "ADP":
            nxt = next((a for (a, b) in spans if a > i), None)
            if nxt is not None:
                heads[i] = nxt + 1
                rels[i] = "case"
            else:
                heads[i] = root + 1
                rels[i] = "dep"
        elif u == "DET":
            nxt = next((a for (a, b) in spans if a > i), None)
            if nxt is not None:
                heads[i] = nxt + 1
                rels[i] = "det"
            else:
                heads[i] = root + 1
                rels[i] = "dep"
        elif u == "ADJ":
            nxt = next((a for (a, b) in spans if a > i), None)
            if nxt is not None:
                heads[i] = nxt + 1
                rels[i] = "amod"
            else:
                heads[i] = root + 1
                rels[i] = "dep"
        elif u == "AUX":
            heads[i] = root + 1
            rels[i] = "aux:pass" if passive else "aux"
        elif u == "PUNCT":
            heads[i] = root + 1
            rels[i] = "punct"
        elif u in ("PART", "CCONJ", "SYM", "ADV", "INTJ"):
            heads[i] = root + 1
            rels[i] = "dep"

    heads[root] = 0
    rels[root] = "root"
    for i, w in enumerate(words):
        w["head"] = heads[i]
        w["deprel"] = rels[i]
    return root


# ---------------------------------------------------------------------------
# page-level driver
# ---------------------------------------------------------------------------

WORDS_SCHEMA = (
    "url string, lang string, sent_id int, sent_start bigint, sent_end bigint, "
    "token_id int, word_id int, is_mwt boolean, text string, "
    "start_char bigint, end_char bigint, upos string, xpos string, "
    "feats string, lemma string, head int, deprel string, ner string"
)


TOKEN_TOO_LONG_REPLACEMENT = "<UNK>"  # tokenize_processor.py:27
MAX_TOKEN_LEN_DEFAULT = 1000          # MAX_SEQ_LENGTH_DEFAULT :38


def split_pretokenized(text: str):
    """Pretokenized mode (op 12, tokenize_processor.py:57-80 semantics):
    one sentence per non-empty line, tokens split on whitespace; char
    offsets index the REBUILT single-space-joined text exactly like the
    reference (`idx += len(token) + 1`)."""
    sents = []
    idx = 0
    for line in text.strip().split("\n"):
        toks = line.strip().split()
        if not toks:
            continue
        cur = []
        for tok in toks:
            cur.append((tok, idx, idx + len(tok)))
            idx += len(tok) + 1
        sents.append((cur[0][1], cur[-1][2], cur))
    return sents


# --- processor-variant registry (op 22) -----------------------------------
# The reference's register_processor_variant plugin point
# (/root/reference/stanza/pipeline/processor.py:160-180,286-293) lets a
# drop-in tokenizer replace the model.  Here the registry is the
# TOKENIZER_VARIANTS dict below, selected per call by
# annotate(..., variant=name): a variant is any callable
# text -> [(sent_start, sent_end, [(tok, start, end), ...])]; the rest of
# the pipeline (MWT/POS/lemma/NER/depparse) is agnostic to which one ran.
def split_no_ssplit(text: str):
    """no_ssplit mode (op 12, tokenize_processor.py:57-80 config): tokenize
    normally but never split sentences — each paragraph is exactly one
    sentence (the reference applies the same rule per input chunk)."""
    sents = []
    for pstart, pend in split_paragraphs(text):
        toks = tokenize_span(text, pstart, pend)
        if toks:
            sents.append((toks[0][1], toks[-1][2], toks))
    return sents


TOKENIZER_VARIANTS = {
    "rule": split_sentences,
    "pretokenized": split_pretokenized,
    "no_ssplit": split_no_ssplit,
}


def annotate_sentences(text: str,
                       max_token_len: int = MAX_TOKEN_LEN_DEFAULT,
                       variant: str | None = None, lang: str = "en",
                       processors=None, decoder: str = "grammar"):
    """Full per-sentence annotation: yields
    (sent_id, sent_start, sent_end, words) with words = the annotated
    dicts (token_id/is_mwt/text/start/end/upos/xpos/feats/lemma/head/
    deprel/ner) — the shared core of annotate_page and the CoNLL-U
    renderer.

    ``variant`` (None = the language's own splitter) names a
    TOKENIZER_VARIANTS entry — ``'pretokenized'`` or ``'no_ssplit'``
    (op 12) — that replaces sentence splitting and tokenization only;
    every later stage still runs with ``lang``.

    ``decoder='mst'`` swaps the fixed NER/depparse grammars for the
    general decode kernels (operators.decode: single-root Chu-Liu/Edmonds
    MST + Viterbi) — byte-identical on in-grammar sentences, valid
    trees/tag sequences beyond them.

    ``processors`` (None = all) genuinely SKIPS unconfigured stages
    instead of nulling their output after the fact — like a reference
    pipeline that never loaded those models: without 'mwt' a contraction
    stays ONE word row (the reference contract — row counts match a
    pipeline without the mwt processor); without 'ner'/'depparse' the
    taggers never run (asserted by monkeypatch in tests).  Dependency
    validation is the facade's job (api.Pipeline REQUIRES).

    Tokens longer than ``max_token_len`` are replaced with ``<UNK>``
    before downstream tagging, the reference's GPU-memory guard
    (tokenize_processor.py:113-117); offsets keep the original span."""
    procs = None if processors is None else frozenset(processors)
    # stage flags resolved once per call, not per word
    pos, lem, mwt, ner, dep = (procs is None or p in procs for p in
                               ("pos", "lemma", "mwt", "ner", "depparse"))

    if decoder == "mst":
        from .decode import parse_sentence_mst, tag_ner_viterbi
        parse_fn, ner_fn = parse_sentence_mst, tag_ner_viterbi
    else:
        parse_fn, ner_fn = parse_sentence, tag_ner
    if variant is not None:
        splitter = TOKENIZER_VARIANTS[variant]
    elif lang in LANG_PACKS and LANG_PACKS[lang].segmenter != "standard":
        # the pack's segmenter kernel: zh max-match over unspaced CJK,
        # ja mixed-script (katakana runs + dict), vi syllable grouping,
        # fr/it romance elision ("l'Économie" -> l' + Économie)
        splitter = pack_splitter(lang)
    else:
        splitter = split_sentences
    for sent_id, (s_start, s_end, toks) in enumerate(splitter(text)):
        words = []
        for t_i, (tok, a, b) in enumerate(toks):
            if len(tok) > max_token_len:
                tok = TOKEN_TOO_LONG_REPLACEMENT
            parts = expand_token(tok, lang) if mwt else [tok]
            is_mwt = len(parts) > 1
            for p in parts:
                if pos or lem:
                    upos, xpos, feats, lemma = tag_word(p, lang)
                    if not pos:
                        upos = xpos = feats = None
                else:
                    upos = xpos = feats = lemma = None
                words.append({
                    "token_id": t_i + 1, "is_mwt": is_mwt, "text": p,
                    "start": a, "end": b, "upos": upos, "xpos": xpos,
                    "feats": feats, "lemma": lemma if lem else None,
                })
        tags = ner_fn(words)[0] if ner else [None] * len(words)
        for w, t in zip(words, tags):
            w["ner"] = t
        if dep:
            parse_fn(words, lang=lang)
        else:
            for w in words:
                w["head"] = None
                w["deprel"] = None
        yield sent_id, s_start, s_end, words


def annotate_page(url: str, lang: str, text: str,
                  variant: str | None = None, processors=None,
                  decoder: str = "grammar"):
    """-> list of word-row tuples (WORDS_SCHEMA order)."""
    rows = []
    for sent_id, s_start, s_end, words in annotate_sentences(
            text, variant=variant, lang=lang,
            processors=processors, decoder=decoder):
        rows.extend(sentence_rows(url, lang, sent_id, s_start, s_end, words))
    return rows


def sentence_rows(url: str, lang: str, sent_id: int, s_start: int,
                  s_end: int, words) -> list[tuple]:
    """One annotated sentence -> its word-row tuples (WORDS_SCHEMA order,
    word ids 1-based)."""
    return [(url, lang, sent_id, s_start, s_end,
             w["token_id"], w_i, w["is_mwt"], w["text"],
             w["start"], w["end"], w["upos"], w["xpos"], w["feats"],
             w["lemma"], w["head"], w["deprel"], w["ner"])
            for w_i, w in enumerate(words, 1)]


def map_pages(pages_df, page_fn, schema: str, en_only: bool):
    """pages (url, lang, text) -> the rows ``page_fn(url, lang, text)``
    returns for each page (tuples in ``schema`` order), in ONE narrow
    mapInPandas pass (zero shuffle) — the Arrow loop every per-page
    kernel shares (annotation, triples, coref).  ``en_only`` drops the
    other languages at the scan, before the Python pass."""
    columns = [c.split()[0] for c in schema.split(", ")]
    df = pages_df.select("url", "lang", "text")
    if en_only:
        df = df.filter(df.lang == "en")

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, lang, text in zip(pdf["url"], pdf["lang"], pdf["text"]):
                out.extend(page_fn(url, lang, text))
            yield pd.DataFrame(out, columns=columns)
    return df.mapInPandas(_batches, schema=schema)


def annotate(pages_df, en_only: bool = True, variant: str | None = None,
             processors=None, decoder: str = "grammar"):
    """pages(url, text, lang) -> flat words table via one narrow
    mapInPandas pass (zero shuffle).  ``variant`` picks a
    TOKENIZER_VARIANTS splitter (op 12: ``'pretokenized'`` is the
    whitespace/newline tokenization bypass, ``'no_ssplit'`` one sentence
    per paragraph) in place of the language's own; ``processors``
    (None = all) skips unconfigured stages inside the UDF — unrequested
    annotators never execute (api.Pipeline threads its configured set
    through here); ``decoder='mst'`` runs the MST/Viterbi kernels in
    place of the fixed grammars (same narrow plan)."""
    return map_pages(
        pages_df,
        lambda url, lang, text: annotate_page(
            url, lang, text, variant=variant, processors=processors,
            decoder=decoder),
        WORDS_SCHEMA, en_only)


def align_pretokenized(text: str, tokens: list[str]):
    """Pretokenized-input alignment (SURVEY §2.2 I6): compute char offsets
    for a given token list by incremental search in the raw text — the
    reference's `text.index(word, offset)` routine
    (/root/reference/stanza/models/tokenization/utils.py:406-466).
    Raises ValueError if the tokens cannot be aligned (text mismatch) or
    if non-whitespace text remains after the last token — the reference's
    `match_tokens_with_text` rejects both too-short and too-long texts
    (stanza/tests/tokenization/test_tokenize_utils.py:62-69).
    Doubles as the byte-identity validator for the offsets invariant."""
    out = []
    pos = 0
    for tok in tokens:
        idx = text.find(tok, pos)
        if idx < 0:
            raise ValueError(f"token {tok!r} not found in text after {pos}")
        out.append((tok, idx, idx + len(tok)))
        pos = idx + len(tok)
    if text[pos:].strip():
        raise ValueError(f"unmatched trailing text {text[pos:]!r}")
    return out
