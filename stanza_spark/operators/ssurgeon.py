"""Ssurgeon-analog dependency-graph rewriting — declarative edit rules
applied to each annotated sentence inside the narrow Arrow pass.

The reference exposes graph surgery through a Java subprocess: Semgrex
matches select nodes/edges and Ssurgeon edits mutate them —
``relabelNamedEdge`` / ``setRoots`` / reattachment etc.
(/root/reference/stanza/server/ssurgeon.py — ``process_doc`` builds one
request per document and replaces each sentence's dependencies with the
edited graph).  Its KG-relevant use is patching SYSTEMATIC parse errors
before triple extraction (e.g. a parser that emits generic ``dep`` where
``obl`` belongs).

Here a rule is DATA — match predicates over one dependency arc plus an
optional child-of-dependent constraint — and :meth:`SsurgeonRule.apply`
edits one sentence's word dicts, so the edit runs in the same per-page
kernel as annotation and triple matching (kg_ssurgeon,
``api.Pipeline.ssurgeon``) with no join and no exchange:

* ``match_deprel``        — the arc label to match.
* ``child_rel``           — if set, the DEPENDENT must itself have a child
                            with this deprel (the "nominal with a case
                            marker" test used to recover obliques).
* ``dep_upos``            — if set, UPOS tags the dependent may carry.
* ``action='relabel'``    — set the arc's deprel to ``new_deprel``.
* ``action='reattach'``   — move the arc's head to the dependent's
                            GRANDPARENT (head of head) — the classic
                            Ssurgeon re-hang for mis-attached modifiers.

Rules apply IN ORDER, each over the previous rule's output (the reference
applies its edit list sequentially per match); one rule matches against
the sentence as it was before that rule.  :func:`apply_rules` returns an
edited flag per word (the ``ss_edited`` column) so downstream stages (and
lineage metrics) can see exactly which arcs surgery touched.
"""

from __future__ import annotations

from dataclasses import dataclass

from .annotate import WORDS_SCHEMA, annotate_sentences, sentence_rows

#: the words table plus the per-word surgery flag
SSURGEON_SCHEMA = WORDS_SCHEMA + ", ss_edited boolean"


@dataclass(frozen=True)
class SsurgeonRule:
    match_deprel: str
    child_rel: str | None = None
    dep_upos: tuple[str, ...] | None = None
    action: str = "relabel"          # 'relabel' | 'reattach'
    new_deprel: str | None = None

    def __post_init__(self):
        if self.action not in ("relabel", "reattach"):
            raise ValueError(f"ssurgeon: unknown action {self.action!r}")
        if self.action == "relabel" and not self.new_deprel:
            raise ValueError("ssurgeon: relabel requires new_deprel")

    def apply(self, words) -> list[bool]:
        """Edit one sentence in place (word dicts with head/deprel/upos,
        1-based heads) -> per word, whether this rule matched it.  A
        reattach whose head has no head of its own keeps its arc."""
        kids = ({w["head"] for w in words if w["deprel"] == self.child_rel}
                if self.child_rel is not None else None)
        hits = [w["deprel"] == self.match_deprel
                and (self.dep_upos is None or w["upos"] in self.dep_upos)
                and (kids is None or i in kids)
                for i, w in enumerate(words, 1)]
        heads = [w["head"] for w in words]
        for w, hit in zip(words, hits):
            if not hit:
                continue
            if self.action == "relabel":
                w["deprel"] = self.new_deprel
            elif w["head"] is not None and 0 < w["head"] <= len(words) \
                    and heads[w["head"] - 1] is not None:
                w["head"] = heads[w["head"] - 1]
        return hits


def apply_rules(words, rules) -> list[bool]:
    """Apply ``rules`` in order to one sentence -> per word, whether any
    rule touched it (the ``ss_edited`` flag)."""
    edited = [False] * len(words)
    for rule in rules:
        edited = [e or h for e, h in zip(edited, rule.apply(words))]
    return edited


def ssurgeon_page(url: str, lang: str, text: str, rules,
                  variant: str | None = None, processors=None,
                  decoder: str = "grammar") -> list[tuple]:
    """-> one page's word rows after surgery (SSURGEON_SCHEMA order): the
    sentences of ``annotate.annotate_sentences`` with ``rules`` applied
    and each word's ``ss_edited`` flag."""
    rows = []
    for sent_id, s_start, s_end, words in annotate_sentences(
            text, variant=variant, lang=lang, processors=processors,
            decoder=decoder):
        edited = apply_rules(words, rules)
        rows.extend(r + (e,) for r, e in zip(
            sentence_rows(url, lang, sent_id, s_start, s_end, words),
            edited))
    return rows
