"""Annotator-core tests anchored to the reference's golden fixtures
(/root/reference/stanza/tests/pipeline/test_english_pipeline.py:16-122 and
test_pipeline_ner_processor.py:14-41). Pure Python — no Spark session."""

from stanza_spark.operators.annotate import (
    annotate_page, split_sentences, tag_ner, expand_token,
)

# the reference's golden document (test_english_pipeline.py:16)
EN_DOC = ("Barack Obama was born in Hawaii.  He was elected president in "
          "2008.  Obama attended Harvard.")

# (sent, word_id, text, lemma, upos, xpos, head, deprel, ner, start, end)
# transcribed from EN_DOC_CONLLU_GOLD (test_english_pipeline.py:89-122)
GOLD = [
    (0, 1, "Barack", "Barack", "PROPN", "NNP", 4, "nsubj:pass", "B-PERSON", 0, 6),
    (0, 2, "Obama", "Obama", "PROPN", "NNP", 1, "flat", "E-PERSON", 7, 12),
    (0, 3, "was", "be", "AUX", "VBD", 4, "aux:pass", "O", 13, 16),
    (0, 4, "born", "bear", "VERB", "VBN", 0, "root", "O", 17, 21),
    (0, 5, "in", "in", "ADP", "IN", 6, "case", "O", 22, 24),
    (0, 6, "Hawaii", "Hawaii", "PROPN", "NNP", 4, "obl", "S-GPE", 25, 31),
    (0, 7, ".", ".", "PUNCT", ".", 4, "punct", "O", 31, 32),
    (1, 1, "He", "he", "PRON", "PRP", 3, "nsubj:pass", "O", 34, 36),
    (1, 2, "was", "be", "AUX", "VBD", 3, "aux:pass", "O", 37, 40),
    (1, 3, "elected", "elect", "VERB", "VBN", 0, "root", "O", 41, 48),
    (1, 4, "president", "president", "NOUN", "NN", 3, "xcomp", "O", 49, 58),
    (1, 5, "in", "in", "ADP", "IN", 6, "case", "O", 59, 61),
    (1, 6, "2008", "2008", "NUM", "CD", 3, "obl", "S-DATE", 62, 66),
    (1, 7, ".", ".", "PUNCT", ".", 3, "punct", "O", 66, 67),
    (2, 1, "Obama", "Obama", "PROPN", "NNP", 2, "nsubj", "S-PERSON", 69, 74),
    (2, 2, "attended", "attend", "VERB", "VBD", 0, "root", "O", 75, 83),
    (2, 3, "Harvard", "Harvard", "PROPN", "NNP", 2, "obj", "S-ORG", 84, 91),
    (2, 4, ".", ".", "PUNCT", ".", 2, "punct", "O", 91, 92),
]


def test_reference_golden_document():
    rows = annotate_page("u", "en", EN_DOC)
    assert len(rows) == len(GOLD)
    for r, g in zip(rows, GOLD):
        got = (r[2], r[6], r[8], r[14], r[11], r[12], r[15], r[16], r[17],
               r[9], r[10])
        assert got == (g[0], g[1], g[2], g[3], g[4], g[5], g[6], g[7], g[8],
                       g[9], g[10]), f"\n got={got}\nwant={g}"


def test_golden_feats():
    rows = annotate_page("u", "en", EN_DOC)
    by = {(r[2], r[8]): r[13] for r in rows}
    # exact feats strings from EN_DOC_CONLLU_GOLD
    assert by[(0, "Barack")] == "Number=Sing"
    assert by[(0, "was")] == "Mood=Ind|Number=Sing|Person=3|Tense=Past|VerbForm=Fin"
    assert by[(0, "born")] == "Tense=Past|VerbForm=Part|Voice=Pass"
    assert by[(1, "He")] == "Case=Nom|Gender=Masc|Number=Sing|Person=3|PronType=Prs"
    assert by[(1, "2008")] == "NumForm=Digit|NumType=Card"


def test_sentence_split_offsets():
    sents = split_sentences(EN_DOC)
    assert [(a, b) for a, b, _ in sents] == [(0, 32), (34, 67), (69, 92)]
    assert EN_DOC[34:67] == "He was elected president in 2008."


def test_url_is_single_token_and_never_splits_sentence():
    text = "See https://example.org/kb/7.html for details. It works."
    sents = split_sentences(text)
    assert len(sents) == 2
    toks = [t for t, _, _ in sents[0][2]]
    assert "https://example.org/kb/7.html" in toks


def test_email_single_token():
    sents = split_sentences("Mail bob.smith+x@example.co.uk now.")
    toks = [t for t, _, _ in sents[0][2]]
    assert "bob.smith+x@example.co.uk" in toks


def test_cjk_sentence_end():
    sents = split_sentences("数据 报告 于 1957 年 发布 。 数据 报告 于 1986 年 发布 。")
    assert len(sents) == 2


def test_german_full_pipeline_with_apprart_mwt():
    """MultilingualPipeline full language #2: German lexicon annotations
    and a REAL multi-word token (im -> in dem, the APPRART contraction —
    tuple token ids like Spanish 'dámelo', doc.py:27-28)."""
    rows = annotate_page("u", "de",
                         "Der Bericht wurde im Jahr 1984 veröffentlicht.")
    words = [(r[8], r[5], r[7], r[11], r[14]) for r in rows]
    #         text  tok_id is_mwt upos  lemma
    assert [(w[0], w[1], w[2]) for w in words] == [
        ("Der", 1, False), ("Bericht", 2, False), ("wurde", 3, False),
        ("in", 4, True), ("dem", 4, True),   # one token -> two words
        ("Jahr", 5, False), ("1984", 6, False),
        ("veröffentlicht", 7, False), (".", 8, False)]
    by = {w[0]: w for w in words}
    assert by["wurde"][3:] == ("AUX", "werden")
    assert by["veröffentlicht"][3:] == ("VERB", "veröffentlichen")
    assert by["dem"][3:] == ("DET", "der")
    assert by["Bericht"][3:] == ("NOUN", "Bericht")


def test_mwt_expansion():
    assert expand_token("can't") == ["ca", "n't"]
    assert expand_token("Don't") == ["Do", "n't"]
    assert expand_token("it's") == ["it", "'s"]
    assert expand_token("plain") == ["plain"]
    rows = annotate_page("u", "en", "She can't go.")
    # token 2 -> two words sharing token_id, flagged MWT
    mwt = [r for r in rows if r[7]]
    assert [(r[5], r[8]) for r in mwt] == [(2, "ca"), (2, "n't")]
    lemmas = {r[8]: r[14] for r in rows}
    assert lemmas["n't"] == "not" and lemmas["ca"] == "can"


def test_ner_closed_class_capitalized_excluded():
    # "He" / "The" capitalized must not become mentions (reference golden:
    # He -> ner O, test_english_pipeline.py:105)
    rows = annotate_page("u", "en", "He visited Paris.")
    ners = {r[8]: r[17] for r in rows}
    assert ners["He"] == "O"
    assert ners["Paris"] == "S-GPE"


def test_ner_single_unknown_cap_dropped_multi_kept():
    words = [{"text": t, "upos": "PROPN"} for t in ["Zorbly", "said", "hi"]]
    tags, mentions = tag_ner(words)
    assert tags == ["O", "O", "O"] and mentions == []
    words = [{"text": t, "upos": "PROPN"} for t in ["Zorbly", "Qux"]]
    tags, mentions = tag_ner(words)
    assert tags == ["B-MISC", "E-MISC"]


def test_offsets_are_byte_faithful_slices():
    text = "Marie Curie founded Initech in Paris. Costs rose 5% & more <fast> in 1999."
    rows = annotate_page("u", "en", text)
    for r in rows:
        if not r[7]:  # non-MWT words slice exactly
            assert text[r[9]:r[10]] == r[8]


def test_align_pretokenized():
    from stanza_spark.operators.annotate import align_pretokenized
    text = "Barack Obama  was born."
    toks = ["Barack", "Obama", "was", "born", "."]
    got = align_pretokenized(text, toks)
    assert got[1] == ("Obama", 7, 12)
    assert got[2] == ("was", 14, 17)  # double space skipped
    import pytest as _pytest
    with _pytest.raises(ValueError):
        align_pretokenized(text, ["Nope"])


# ---------------------------------------------------------------------------
# Web-text fidelity: MASK_RE behavior transcribed from the reference
# (/root/reference/stanza/models/tokenization/utils.py:199-248).  Expected
# values below are the *measured* behavior of the reference's
# EMAIL_RAW_RE/URL_RAW_RE on each string (including its quirks: bare
# `example.com` does NOT mask; a glued trailing `.`/`)` is swallowed).
# ---------------------------------------------------------------------------

def _first_sent_tokens(text):
    sents = split_sentences(text)
    return [t for t, _, _ in sents[0][2]]


def test_mask_www_url_single_token():
    toks = _first_sent_tokens("Visit www.portal12.org now.")
    assert toks == ["Visit", "www.portal12.org", "now", "."]


def test_mask_bare_domain_with_extra_tld():
    toks = _first_sent_tokens("Archives live at data123.co.uk daily.")
    assert toks == ["Archives", "live", "at", "data123.co.uk", "daily", "."]


def test_mask_bare_domain_alone_does_not_mask():
    # reference behavior: `[a-zA-Z0-9]+\.(gov|org|...)` REQUIRES a further
    # `.rest`; plain example.com splits into word tokens (and the bare dot
    # is then an ordinary sentence-end candidate for the rule engine)
    sents = split_sentences("Go to example.com for info.")
    flat = [t for _, _, toks in sents for t, _, _ in toks]
    assert flat == ["Go", "to", "example", ".", "com", "for", "info", "."]


def test_mask_lowercase_email_only():
    assert _first_sent_tokens("mail info12@support.example.com today.") == \
        ["mail", "info12@support.example.com", "today", "."]
    # uppercase local part does not mask in the reference (EMAIL_RAW_RE is
    # lowercase-only); falls back to ordinary tokens
    toks = _first_sent_tokens("mail Info12@support.example.com today.")
    assert "Info12@support.example.com" not in toks


def test_mask_swallows_glued_trailing_punct():
    # the reference's `[^\s"]{2,}` tail is greedy: `www.foo.org.` at
    # sentence end is ONE token including the final dot — and therefore
    # does not close the sentence (word-break, not sentence-break)
    sents = split_sentences("trailing www.foo.org. Next one.")
    assert [t for t, _, _ in sents[0][2]][:2] == ["trailing", "www.foo.org."]
    toks = _first_sent_tokens("parens (www.foo.org) here.")
    assert toks == ["parens", "(", "www.foo.org)", "here", "."]


def test_mask_scheme_url_mid_sentence():
    toks = _first_sent_tokens("See https://example.org/kb/7.html for details.")
    assert toks == ["See", "https://example.org/kb/7.html", "for",
                    "details", "."]


# ---------------------------------------------------------------------------
# Paragraph preprocessing transcribed from the reference
# (tokenization/data.py:110-170): blank-line split, C1-control handling.
# ---------------------------------------------------------------------------

def test_paragraph_break_forces_sentence_end_without_punct():
    sents = split_sentences("unban mox opal\n\nthe second paragraph")
    assert len(sents) == 2
    assert [t for t, _, _ in sents[0][2]] == ["unban", "mox", "opal"]
    assert [t for t, _, _ in sents[1][2]] == ["the", "second", "paragraph"]


def test_paragraph_split_with_interior_whitespace_and_c1():
    # NEWLINE_WHITESPACE_RE = \n[\s-]*\n (data.py:124): blank
    # lines may contain spaces or C1 controls and still split
    assert len(split_sentences("alpha one\n  \t \nbeta two")) == 2
    assert len(split_sentences("alpha one\n\x85\nbeta two")) == 2
    # a single newline is NOT a paragraph break
    assert len(split_sentences("alpha one\nbeta two")) == 1


def test_paragraph_offsets_stay_raw():
    text = "first block\n\n\nsecond block here"
    sents = split_sentences(text)
    for _, _, toks in sents:
        for t, a, b in toks:
            assert text[a:b] == t


def test_c1_control_is_whitespace_not_token():
    # U+0097 stuck to a token (reference issue #1257, data.py:122-129)
    toks = _first_sent_tokens("ctrl\x97stuck word.")
    assert toks == ["ctrl", "stuck", "word", "."]


def test_pretokenized_rejects_extra_text():
    # reference match_tokens_with_text raises on too-long text
    # (test_tokenize_utils.py:62-64)
    from stanza_spark.operators.annotate import align_pretokenized
    import pytest as _pytest
    assert align_pretokenized("Thisisatest", ["This", "is", "a", "test"]) == \
        [("This", 0, 4), ("is", 4, 6), ("a", 6, 7), ("test", 7, 11)]
    with _pytest.raises(ValueError):
        align_pretokenized("Thisisatestttt", ["This", "is", "a", "test"])
    with _pytest.raises(ValueError):
        align_pretokenized("Thisisates", ["This", "is", "a", "test"])
    with _pytest.raises(ValueError):
        align_pretokenized("Thisisatest", ["This", "iz", "a", "test"])


def test_match_tokens_with_text_offsets_golden():
    # exact offsets from the reference's test_match_tokens_with_text
    # (test_tokenize_utils.py:47-60)
    from stanza_spark.operators.annotate import align_pretokenized
    got = align_pretokenized("Thisisatest  unban mox  opal!",
                             ["This", "is", "a", "test",
                              "unban", "mox", "opal", "!"])
    assert [(a, b) for _, a, b in got] == [
        (0, 4), (4, 6), (6, 7), (7, 11),
        (13, 18), (19, 22), (24, 28), (28, 29)]


def test_pretokenized_mode_reference_offsets():
    # tokenize_processor.py:57-80: line = sentence, whitespace tokens,
    # offsets index the rebuilt single-space-joined text
    from stanza_spark.operators.annotate import split_pretokenized
    sents = split_pretokenized("This is a test\nunban mox opal")
    assert len(sents) == 2
    assert [(t, a, b) for t, a, b in sents[0][2]] == [
        ("This", 0, 4), ("is", 5, 7), ("a", 8, 9), ("test", 10, 14)]
    assert [(t, a, b) for t, a, b in sents[1][2]] == [
        ("unban", 15, 20), ("mox", 21, 24), ("opal", 25, 29)]


def test_pretokenized_no_mask_no_ssplit_inside_line():
    # pretokenized bypass: no sentence split on '.', no URL masking —
    # tokens are exactly the whitespace fields
    from stanza_spark.operators.annotate import split_pretokenized
    sents = split_pretokenized("a . b www.x.org c")
    assert len(sents) == 1
    assert [t for t, _, _ in sents[0][2]] == ["a", ".", "b",
                                              "www.x.org", "c"]


def test_no_ssplit_mode_one_sentence_per_paragraph():
    from stanza_spark.operators.annotate import annotate_sentences
    text = "One two. Three four!\n\nFive six."
    sents = list(annotate_sentences(text, variant="no_ssplit"))
    assert len(sents) == 2  # punctuation does NOT split; blank line does
    assert [w["text"] for w in sents[0][3]] == [
        "One", "two", ".", "Three", "four", "!"]


def test_token_too_long_replaced_with_unk():
    # tokenize_processor.py:113-117 guard, offsets keep the original span
    from stanza_spark.operators.annotate import annotate_sentences
    long_tok = "x" * 40
    sents = list(annotate_sentences(f"short {long_tok} end.",
                                    max_token_len=30))
    words = sents[0][3]
    texts = [w["text"] for w in words]
    assert texts == ["short", "<UNK>", "end", "."]
    unk = words[1]
    assert (unk["start"], unk["end"]) == (6, 6 + 40)
    # the triples pass sees the same <UNK> as the words table, at the
    # default limit (MAX_TOKEN_LEN_DEFAULT = 1000)
    from stanza_spark.operators.triples import page_triples
    assert page_triples("u", "en", "Obama visited " + "x" * 1201) == [
        ("u", 0, "Obama", "visit", "<UNK>", "PERSON", None)]


def test_annotator_offsets_align_with_pretokenized_matcher():
    from stanza_spark.operators.annotate import align_pretokenized
    text = "Marie Curie founded Initech in Paris. See https://x.org/a.html now."
    rows = annotate_page("u", "en", text)
    toks = [r[8] for r in rows if not r[7]]
    aligned = align_pretokenized(text, toks)
    got = [(r[8], r[9], r[10]) for r in rows if not r[7]]
    assert got == aligned


def test_arabic_multi_clitic_mwt_and_rtl_offsets():
    """Fourth language (r4): the fused token وللوزارة expands to THREE
    words (> the 2-word de/fr shapes), all sharing the parent token's
    char span; offsets are logical-order indices into the stored string,
    so slicing the original text by (start, end) recovers each surface
    token regardless of RTL display order."""
    from stanza_spark.operators.annotate import annotate_sentences

    text = "نشر التقرير وللوزارة في عام 2008."
    (sid, s_start, s_end, words), = list(annotate_sentences(text, lang="ar"))
    mwt = [w for w in words if w["is_mwt"]]
    assert [w["text"] for w in mwt] == ["و", "ل", "الوزارة"]
    assert [w["upos"] for w in mwt] == ["CCONJ", "ADP", "NOUN"]
    assert {(w["start"], w["end"]) for w in mwt} == {(12, 20)}
    assert text[12:20] == "وللوزارة"          # parent token span, logical order
    for w in words:
        if not w["is_mwt"]:
            assert text[w["start"]:w["end"]] == w["text"]
    # lemma strips the definite article per the lexicon analysis
    assert mwt[2]["lemma"] == "وزارة"
    # no-mwt processor set keeps the fused token as ONE word row
    (_, _, _, plain), = list(
        annotate_sentences(text, lang="ar", processors={"tokenize", "pos"}))
    assert [w["text"] for w in plain if w["start"] == 12] == ["وللوزارة"]


def test_chinese_max_match_segmentation():
    """Fifth language (r4): UNSPACED Chinese segments by greedy
    longest-prefix dictionary match with exact offsets; the dict contains
    single-char prefixes of its multi-char words, so every multi-char
    boundary proves longest-match semantics."""
    from stanza_spark.operators.annotate import (annotate_sentences,
                                                 zh_max_match)

    text = "数据报告于2008年发布。"
    (sid, s_start, s_end, words), = list(annotate_sentences(text, lang="zh"))
    assert [w["text"] for w in words] == \
        ["数据", "报告", "于", "2008", "年", "发布", "。"]
    assert [w["upos"] for w in words] == \
        ["NOUN", "NOUN", "ADP", "NUM", "NOUN", "VERB", "PUNCT"]
    for w in words:
        assert text[w["start"]:w["end"]] == w["text"]
    assert (s_start, s_end) == (0, len(text))

    # longest-match traps: 发布 beats 发; order matters; 3-char entries win
    assert [t for t, _, _ in zh_max_match("发布", 0, 2)] == ["发布"]
    assert [t for t, _, _ in zh_max_match("布发", 0, 2)] == ["布", "发"]
    assert [t for t, _, _ in zh_max_match("数据库报告书", 0, 6)] == \
        ["数据库", "报告书"]
    # unknown chars fall back to single-char words; whitespace skipped
    assert [t for t, _, _ in zh_max_match("猫 发布", 0, 4)] == \
        ["猫", "发布"]
    # a custom dict WITHOUT max_len derives the cap from the dict itself
    assert [t for t, _, _ in zh_max_match("发布发", 0, 3,
                                          seg_dict={"发布", "发"})] == \
        ["发布", "发"]
    # multi-sentence split on CJK terminators
    two = list(annotate_sentences("数据发布。报告发布。", lang="zh"))
    assert len(two) == 2
    assert [w["text"] for w in two[1][3]] == ["报告", "发布", "。"]


def test_chinese_mixed_ascii_material():
    """Embedded Latin/numeric runs in zh text keep standard-tokenizer
    semantics: decimals stay one token and ASCII '.' never ends a zh
    sentence (review finding r4b)."""
    from stanza_spark.operators.annotate import annotate_sentences

    text = "数据3.5年GDP发布。"
    sents = list(annotate_sentences(text, lang="zh"))
    assert len(sents) == 1                       # '.' in 3.5 didn't split
    toks = [w["text"] for w in sents[0][3]]
    assert toks == ["数据", "3.5", "年", "GDP", "发布", "。"]
    for w in sents[0][3]:
        assert text[w["start"]:w["end"]] == w["text"]
