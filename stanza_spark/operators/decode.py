"""General-input decode kernels: maximum spanning arborescence
(Chu-Liu/Edmonds with the single-root constraint) and first-order Viterbi
sequence decode — the two algorithms that make depparse/NER
semantics-complete for ARBITRARY score matrices instead of grammar-bound.

Reference parity targets (public algorithms, re-implemented here in our
own structure — the reference's versions are themselves from the public
Dozat Parser-v3 script and the standard CRF literature):

* ``chuliu_edmonds`` / ``mst_single_root`` match
  /root/reference/stanza/models/common/chuliu_edmonds.py:206-269
  (``chuliu_edmonds_one_root``; single-root reweighting per Stanojević &
  Cohen 2021, "A Root of a Problem") — scores[dep][head] log-scores, row
  0 / col 0 = the artificial ROOT, cycles contracted iteratively.  The
  cycle finder exploits that a greedy head assignment is a FUNCTIONAL
  graph (out-degree exactly 1), so simple pointer-walking with colors
  finds all cycles in O(n) — no general SCC machinery needed; it returns
  the same cycle sets as the reference's Tarjan on its documented cases
  (chuliu_edmonds.py:15-29, anchored in tests/test_decode.py).
* ``viterbi_decode`` matches
  /root/reference/stanza/models/common/crf.py:107-130 (max-sum trellis +
  backpointers).

Spark shape: both kernels run per sentence INSIDE the existing Arrow
batches (mapInPandas) — matrices are (n+1)² / (T × 21) tiny, so the
distributed plan is unchanged: narrow, zero shuffle, nothing leaves the
executor.

The score matrices come from pluggable scorers.  The default scorers
(``grammar_arc_scores`` / ``gazetteer_emissions``) derive deterministic
log-scores from the rule lexicons (vocab.py) such that the decoded
trees/tags reproduce the grammar annotators exactly on the synthetic
corpus — gate ``kg_triples_mst`` is value-checked against the SAME DuckDB
oracle as ``kg_triples`` — while the decoders themselves handle inputs the
fixed grammars cannot: cyclic greedy assignments, non-projective arcs,
multi-verb sentences (where the grammar emits a forest, the MST emits a
single-root tree), and invalid greedy tag sequences (repaired to valid
BIOES by the transition matrix).
"""

from __future__ import annotations

import numpy as np

NEG = -np.inf


# ---------------------------------------------------------------------------
# cycle detection on a functional graph (each node has exactly one head)
# ---------------------------------------------------------------------------

def find_cycles(heads: np.ndarray) -> list:
    """heads[i] = head of node i; heads[0] == 0 is the ROOT self-loop.
    Returns one boolean mask per cycle of length > 1 (the ROOT self-loop
    and any other self-loop are not cycles, matching the reference's
    ``cycle.sum() > 1`` guard, chuliu_edmonds.py:49-50).

    Documented reference cases (chuliu_edmonds.py:15-29):
    [0,4,4,4,0] -> [];  [0,2,0,4,2,2] -> [];
    [0,3,1,2] -> [[False,True,True,True]].
    """
    n = len(heads)
    color = np.zeros(n, dtype=np.int8)   # 0 new / 1 on current walk / 2 done
    pos = np.full(n, -1)                  # index within the current walk
    cycles = []
    for start in range(n):
        if color[start]:
            continue
        walk = []
        v = start
        while color[v] == 0:
            color[v] = 1
            pos[v] = len(walk)
            walk.append(v)
            v = int(heads[v])
        if color[v] == 1:                 # walked into our own tail: cycle
            cyc = walk[pos[v]:]
            if len(cyc) > 1:
                mask = np.zeros(n, dtype=bool)
                mask[cyc] = True
                cycles.append(mask)
        for u in walk:
            color[u] = 2
    return cycles


# ---------------------------------------------------------------------------
# Chu-Liu/Edmonds
# ---------------------------------------------------------------------------

def _prepare(scores: np.ndarray) -> None:
    """No self-loops; ROOT's head is itself (chuliu_edmonds.py:197-204)."""
    np.fill_diagonal(scores, NEG)
    scores[0, :] = NEG
    scores[0, 0] = 0.0


def _contract(scores: np.ndarray, heads: np.ndarray, cycle: np.ndarray):
    """Collapse one cycle into a metanode (appended as the last index of
    the reduced problem).  Entering the cycle at node c from outside head
    o scores  s[c,o] - s[c,heads[c]] + total_cycle_score  (break one
    internal arc, keep the rest); leaving the cycle to outside dep o takes
    the best internal source."""
    in_c = np.where(cycle)[0]
    out_c = np.where(~cycle)[0]
    cyc_arcs = scores[in_c, heads[in_c]]
    enter = scores[np.ix_(in_c, out_c)] - cyc_arcs[:, None] + cyc_arcs.sum()
    best_enter = np.argmax(enter, axis=0)        # per outside node -> cycle idx
    leave = scores[np.ix_(out_c, in_c)]
    best_leave = np.argmax(leave, axis=1)        # per outside node -> cycle idx
    m = len(out_c)
    sub = np.zeros((m + 1, m + 1))
    sub[:m, :m] = scores[np.ix_(out_c, out_c)]
    sub[m, :m] = enter[best_enter, np.arange(m)]
    sub[:m, m] = leave[np.arange(m), best_leave]
    return sub, (in_c, out_c, best_enter, best_leave)


def _expand(heads: np.ndarray, sub_heads: np.ndarray, info) -> np.ndarray:
    """Lift a solved reduced problem back to the full node set."""
    in_c, out_c, best_enter, best_leave = info
    m = len(out_c)
    meta_head = int(sub_heads[m])                # head of the metanode
    full = np.full(len(heads), -1, dtype=heads.dtype)
    outside = sub_heads[:m]
    from_out = outside < m
    full[out_c[from_out]] = out_c[outside[from_out]]
    full[out_c[~from_out]] = in_c[best_leave[~from_out]]
    full[in_c] = heads[in_c]                     # cycle keeps internal arcs...
    entry = int(best_enter[meta_head])           # ...except its entry node
    full[in_c[entry]] = out_c[meta_head]
    return full


def chuliu_edmonds(scores: np.ndarray) -> np.ndarray:
    """Maximum spanning arborescence over scores[dep][head] (row/col 0 =
    ROOT).  Greedy per-row argmax; every cycle is contracted to a metanode
    and re-solved; contractions unwind from an explicit stack (same
    iterative shape as the reference, chuliu_edmonds.py:206-243 — deep
    graphs must not recurse)."""
    scores = np.array(scores, dtype=np.float64)
    stack = []
    _prepare(scores)
    heads = np.argmax(scores, axis=1)
    cycles = find_cycles(heads)
    while cycles:
        sub, info = _contract(scores, heads, cycles[0])
        stack.append((heads, info))
        scores = sub
        _prepare(scores)
        heads = np.argmax(scores, axis=1)
        cycles = find_cycles(heads)
    while stack:
        outer_heads, info = stack.pop()
        heads = _expand(outer_heads, heads, info)
    return heads


def mst_single_root(scores: np.ndarray) -> np.ndarray:
    """Chu-Liu/Edmonds with EXACTLY one arc out of ROOT
    (chuliu_edmonds_one_root, chuliu_edmonds.py:246-269): uniformly
    reweight the ROOT column by min_finite_score * n, which preserves the
    relative ranking among root candidates while making every extra root
    arc strictly worse than any alternative.  The reweighting needs a
    strictly negative minimum, so scores are first shifted by
    -max_finite — a uniform shift moves every spanning tree's total by
    the same n*c and never changes the argmax tree.  If the reweighted
    solve still yields != 1 root (degenerate all-equal matrices), fall
    back to an explicit per-candidate-root search (the reference's retry
    loop), keeping the best-scoring single-root tree (ties -> lowest
    root index)."""
    s = np.array(scores, dtype=np.float64)
    finite = s[np.isfinite(s)]
    s -= finite.max()                     # finite scores now <= 0
    s2 = s.copy()
    s2[:, 0] = s2[:, 0] + min(s[np.isfinite(s)].min(), -1.0) * s.shape[0]
    heads = chuliu_edmonds(s2)
    n_roots = int(np.count_nonzero(heads[1:] == 0))
    if n_roots == 1:
        return heads
    n = s.shape[0]
    best_heads, best_score = None, -np.inf
    for r in range(1, n):
        forced = s.copy()
        forced[:, 0] = -np.inf
        forced[r, 0] = s[r, 0]
        h = chuliu_edmonds(forced)
        if int(np.count_nonzero(h[1:] == 0)) != 1:
            continue
        sc = float(s[np.arange(1, n), h[1:]].sum())
        if sc > best_score:
            best_heads, best_score = h, sc
    if best_heads is None:
        raise ValueError("single-root search failed: no candidate root "
                         "admits a spanning arborescence")
    return best_heads


# ---------------------------------------------------------------------------
# Viterbi
# ---------------------------------------------------------------------------

def viterbi_decode(emissions: np.ndarray, transitions: np.ndarray):
    """Best tag path under emission + first-order transition scores
    (crf.py:107-130 semantics).  emissions: (T, K); transitions[a][b] =
    score of tag a -> tag b.  Returns (path list, path score)."""
    em = np.asarray(emissions, dtype=np.float64)
    T, K = em.shape
    dp = em[0].copy()
    back = np.zeros((T, K), dtype=np.int32)
    for t in range(1, T):
        cand = dp[:, None] + transitions
        back[t] = np.argmax(cand, axis=0)
        dp = em[t] + np.max(cand, axis=0)
    best = int(np.argmax(dp))
    path = [best]
    for t in range(T - 1, 0, -1):
        path.append(int(back[t, path[-1]]))
    path.reverse()
    return path, float(np.max(dp))


# ---------------------------------------------------------------------------
# default arc scorer: grammar-derived log-scores (depparse)
# ---------------------------------------------------------------------------

_FUNC_NEXT_SPAN = ("ADP", "DET", "ADJ")
NOMINAL = {"NOUN", "PROPN", "NUM", "PRON", "X"}


def _nominal_spans(words):
    """Nominal span structure, identical to parse_sentence's
    (annotate.py:295-312): PROPN runs are one span (internal words flat to
    the run start); NOUN/NUM/PRON/X are singleton spans.  Returns
    (spans [(first, last)], run_head: per-word run-start index or -1)."""
    n = len(words)
    spans = []
    run_head = [-1] * n
    i = 0
    while i < n:
        u = words[i]["upos"]
        if u == "PROPN":
            j = i
            while j + 1 < n and words[j + 1]["upos"] == "PROPN":
                j += 1
            for k in range(i + 1, j + 1):
                run_head[k] = i
            spans.append((i, j))
            i = j + 1
        elif u in ("NOUN", "NUM", "PRON", "X"):
            spans.append((i, i))
            i += 1
        else:
            i += 1
    return spans, run_head


def _choose_root(words) -> int:
    """First VERB, else first nominal, else word 0 (annotate.py:288-290)."""
    root = next((i for i, w in enumerate(words) if w["upos"] == "VERB"), None)
    if root is None:
        root = next((i for i, w in enumerate(words)
                     if w["upos"] in NOMINAL), 0)
    return root


def grammar_arc_scores(words) -> np.ndarray:
    """(n+1)×(n+1) log-scores over [ROOT] + words, derived from the
    lexicon features (upos, PROPN-run structure, nominal spans, the
    main-predicate candidate): the per-row argmax is the grammar
    attachment, with wide margins so the MST equals the grammar tree on
    every in-grammar sentence; weak distance-decayed fallbacks everywhere
    else keep arbitrary sentences decodable (where the fixed grammar
    degrades — e.g. a second VERB gets head 0 from parse_sentence,
    producing a two-root forest; under the MST it attaches to the root
    word and the output stays a valid tree).

    All scores ≤ 0 (log-score convention), as mst_single_root's
    reweighting requires."""
    n = len(words)
    spans, run_head = _nominal_spans(words)
    root = _choose_root(words)
    S = np.full((n + 1, n + 1), -80.0)
    for i in range(n + 1):
        for j in range(n + 1):
            S[i, j] -= 0.01 * abs(i - j)         # locality fallback
    S[1:, 0] = -60.0                              # weak root-arc fallback
    span_starts = [a for a, _b in spans]
    for i, w in enumerate(words):
        row = i + 1
        if i == root:
            S[row, 0] = 0.0
        elif run_head[i] >= 0:                    # flat inside a PROPN run
            S[row, run_head[i] + 1] = 0.0
        elif w["upos"] in _FUNC_NEXT_SPAN:        # case/det/amod forward
            following = [a for a in span_starts if a > i]
            if following:
                for a in following:               # nearest span start wins
                    S[row, a + 1] = -0.01 * (a - i)
            else:
                S[row, root + 1] = 0.0
        else:                                     # everything else: root word
            S[row, root + 1] = 0.0
    return S


def label_arcs(words, heads, root: int) -> list:
    """Deprels for a given head assignment — the grammar's labeling rules
    (annotate.py:314-390) conditioned on the tree instead of computed
    alongside it.  For the grammar tree this reproduces parse_sentence's
    labels exactly; for other trees each rule degrades to 'dep' when its
    structural precondition doesn't hold."""
    n = len(words)
    rels = ["dep"] * n
    spans, run_head = _nominal_spans(words)
    passive = (words[root]["xpos"] in ("VBN", "VVPP", "VPP")
               and any(w["upos"] == "AUX" for w in words[:root]))
    subj_spans = [s for s in spans
                  if s[0] < root and not (s[0] <= root <= s[1])]
    in_root_span = next((s for s in spans if s[0] <= root <= s[1]), None)

    for i in range(n):
        if run_head[i] >= 0 and heads[i] == run_head[i] + 1:
            rels[i] = "flat"

    seen_direct_obj = False
    for (a, b) in spans:
        if (a, b) == in_root_span and words[root]["upos"] != "VERB":
            continue
        if a <= root <= b:
            continue
        if heads[a] != root + 1:
            continue
        if a < root:
            if subj_spans and (a, b) == subj_spans[-1]:
                rels[a] = "nsubj:pass" if passive else "nsubj"
            continue
        k = a - 1
        while k > root and words[k]["upos"] in ("DET", "ADJ"):
            k -= 1
        if k > root and words[k]["upos"] == "ADP":
            rels[a] = "obl"
        elif not seen_direct_obj:
            rels[a] = "xcomp" if passive else "obj"
            seen_direct_obj = True

    span_starts = {a for a, _b in spans}
    for i in range(n):
        u = words[i]["upos"]
        if u == "ADP" and heads[i] - 1 in span_starts and heads[i] - 1 > i:
            rels[i] = "case"
        elif u == "DET" and heads[i] - 1 in span_starts and heads[i] - 1 > i:
            rels[i] = "det"
        elif u == "ADJ" and heads[i] - 1 in span_starts and heads[i] - 1 > i:
            rels[i] = "amod"
        elif u == "AUX":
            rels[i] = "aux:pass" if passive else "aux"
        elif u == "PUNCT":
            rels[i] = "punct"
    rels[root] = "root"
    return rels


def parse_sentence_mst(words, scorer=None, lang: str = "en") -> int:
    """Drop-in replacement for annotate.parse_sentence: score with
    ``scorer`` (default grammar_arc_scores), decode with the single-root
    MST, label with the grammar's rules.  Sets 'head'/'deprel' in place,
    returns the root index.  Any scorer returning an (n+1)² matrix plugs
    in — the decode handles cycles and non-projectivity the fixed grammar
    cannot."""
    score_fn = scorer if scorer is not None else grammar_arc_scores
    tree = mst_single_root(score_fn(words))
    heads = [int(h) for h in tree[1:]]
    root = heads.index(0)
    rels = label_arcs(words, heads, root)
    for i, w in enumerate(words):
        w["head"] = heads[i]
        w["deprel"] = rels[i]
    return root


# ---------------------------------------------------------------------------
# default emission scorer + transitions: gazetteer BIOES (NER)
# ---------------------------------------------------------------------------

NER_TYPES = ("DATE", "GPE", "MISC", "ORG", "PERSON")
NER_TAGS = ["O"] + [f"{p}-{t}" for t in NER_TYPES for p in "BIES"]
_TAG_IDX = {t: i for i, t in enumerate(NER_TAGS)}

_DISALLOWED = -50.0
_EMIT_OFF = -20.0


def ner_transitions() -> np.ndarray:
    """BIOES chain constraints as a log transition matrix: inside an
    entity only I-X/E-X of the SAME type may follow B-X/I-X; after
    O/E-X/S-X only O/B-*/S-* may open.  Valid 0, invalid -50 — soft
    enough to stay decodable, dominant over any emission pattern the
    default scorer emits (so Viterbi output is always well-formed BIOES,
    which the greedy per-token argmax cannot guarantee)."""
    K = len(NER_TAGS)
    T = np.full((K, K), _DISALLOWED)
    opens = [0] + [_TAG_IDX[f"{p}-{t}"] for t in NER_TYPES for p in "BS"]
    for t in NER_TYPES:
        b, i_, e = _TAG_IDX[f"B-{t}"], _TAG_IDX[f"I-{t}"], _TAG_IDX[f"E-{t}"]
        s = _TAG_IDX[f"S-{t}"]
        for src in (b, i_):
            T[src, i_] = 0.0
            T[src, e] = 0.0
        for src in (e, s):
            for dst in opens:
                T[src, dst] = 0.0
    for dst in opens:
        T[0, dst] = 0.0
    return T


NER_TRANS = ner_transitions()


def gazetteer_emissions(words) -> np.ndarray:
    """(T × tags) log-emissions from the same lexicon features the rule
    tagger uses (annotate.tag_ner): capitalized-alpha runs (closed-class
    words excluded) typed by full-surface alias lookup — kept iff
    multi-token or a gazetteer hit — plus 4-digit years as S-DATE.  The
    desired tag scores 0, everything else -20, so Viterbi recovers the
    rule tagger's exact sequence on the corpus while arbitrary emission
    matrices (a real model's logits) decode through the same path."""
    from .annotate import tag_ner

    tags, _mentions = tag_ner(words)
    T = len(words)
    em = np.full((T, len(NER_TAGS)), _EMIT_OFF)
    for t, tag in enumerate(tags):
        em[t, _TAG_IDX[tag]] = 0.0
    return em


def tag_ner_viterbi(words):
    """Viterbi NER decode over the gazetteer emissions (same output
    contract as annotate.tag_ner): returns (BIOES tags, mention spans
    [(first, last, type)]).  Mentions come from the reference-identical
    BIOES state machine (ner_tags.decode_from_bioes), so even a malformed
    path (impossible under NER_TRANS) would decode exactly like the
    reference."""
    from .ner_tags import decode_from_bioes

    if not words:
        return [], []
    path, _score = viterbi_decode(gazetteer_emissions(words), NER_TRANS)
    tags = [NER_TAGS[p] for p in path]
    spans = decode_from_bioes(tags)
    mentions = [(s["start"], s["end"], s["type"]) for s in spans]
    return tags, mentions
