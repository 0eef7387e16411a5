"""User-facing Pipeline facade: the drop-in surface for a reference user
(`nlp = Pipeline(...); doc_df = nlp(text)`), mapped onto the Spark-native
engine.

Mirrors the reference's construction-time plan validation
(/root/reference/stanza/pipeline/core.py:178-347): the processor list is
topologically ordered by PIPELINE_NAMES, each processor's ``requires`` set
must be provided by an earlier one (processor.py:100-157), and a violation
raises PipelineRequirementsException *before* any execution — the static
DAG check happening before Catalyst ever sees a plan.

Execution is columnar: every requested processor's annotations are columns
of the returned words DataFrame.  The configured processor set is threaded
INTO the Arrow annotator (annotate_sentences ``processors``), so
unrequested stages genuinely never execute — a tokenize-only pipeline pays
no NER/depparse Python time, and without 'mwt' a contraction stays one
word row, exactly like a reference pipeline that never loaded those
models (reference contract: row counts match).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# execution order (reference PIPELINE_NAMES, core.py:22-31 + registry)
PIPELINE_NAMES = ["tokenize", "mwt", "pos", "lemma", "constituency",
                  "coref", "depparse", "sentiment", "ner", "morphseg"]

REQUIRES = {
    "tokenize": set(),
    "mwt": {"tokenize"},
    "pos": {"tokenize"},
    "lemma": {"tokenize"},
    "constituency": {"tokenize", "pos"},
    "coref": {"tokenize"},
    "depparse": {"tokenize", "pos", "lemma"},
    "sentiment": {"tokenize"},
    "ner": {"tokenize"},
    "morphseg": {"tokenize"},
}

class PipelineRequirementsException(Exception):
    pass


class Pipeline:
    """stanza.Pipeline analog over Spark.

    >>> nlp = Pipeline(spark, processors="tokenize,pos,lemma")
    >>> words_df = nlp("Barack Obama was born in Hawaii.")
    """

    def __init__(self, spark: SparkSession,
                 processors: str = "tokenize,mwt,pos,lemma,depparse,ner",
                 lang: str = "en", pretokenized: bool = False,
                 no_ssplit: bool = False, decoder: str = "grammar"):
        if decoder not in ("grammar", "mst"):
            raise ValueError(f"unknown decoder: {decoder!r}")
        self.spark = spark
        self.lang = lang
        # the TOKENIZER_VARIANTS entry that replaces the splitter, if any
        self.variant = ("pretokenized" if pretokenized
                        else "no_ssplit" if no_ssplit else None)
        # 'mst' = general decode kernels (Chu-Liu/Edmonds + Viterbi) in
        # place of the fixed grammars — the semantics-complete path
        self.decoder = decoder
        names = [p.strip() for p in processors.split(",") if p.strip()]
        unknown = [p for p in names if p not in PIPELINE_NAMES]
        if unknown:
            raise ValueError(f"unknown processors: {unknown}")
        # topo-order by the canonical pipeline order (common.py:169-185)
        self.processors = [p for p in PIPELINE_NAMES if p in names]
        provided: set[str] = set()
        for p in self.processors:
            missing = REQUIRES[p] - provided
            if missing:
                raise PipelineRequirementsException(
                    f"processor {p!r} requires {sorted(missing)} but the "
                    f"pipeline only provides {sorted(provided)}")
            provided.add(p)

    # -- execution ---------------------------------------------------------

    def _pages(self, docs) -> DataFrame:
        if isinstance(docs, DataFrame):
            return docs
        if isinstance(docs, str):
            docs = [docs]
        return self.spark.createDataFrame(
            [(f"doc{i}", self.lang, t) for i, t in enumerate(docs)],
            "url string, lang string, text string")

    def process(self, docs) -> DataFrame:
        """str | list[str] | pages DataFrame -> words DataFrame with the
        configured processors' columns (unrequested stages are skipped
        inside the UDF, not computed-and-nulled)."""
        from .operators.annotate import annotate
        return self._morphseg(annotate(
            self._pages(docs), en_only=False, variant=self.variant,
            processors=self.processors, decoder=self.decoder))

    def _morphseg(self, words: DataFrame) -> DataFrame:
        if "morphseg" not in self.processors:
            return words
        from .operators.morphseg import segment_words
        return segment_words(words)

    __call__ = process

    def bulk_process(self, texts: list[str]) -> DataFrame:
        return self.process(list(texts))

    def triples(self, docs, pattern=None) -> DataFrame:
        """Dependency-pattern triple extraction from the facade — the
        reference's Semgrex entry point (semgrex.py:193).  ``pattern``
        accepts a :class:`~stanza_spark.operators.triples.DepPattern`, a
        Semgrex-style string (parsed via ``DepPattern.from_semgrex``), or
        a name->pattern dict (multi-pattern run, output gains a
        ``pattern`` column) — all matched in one narrow pass from the
        pages (``triples.triples_narrow``) with this pipeline's variant,
        processors and decoder; type columns only with ner."""
        if "depparse" not in self.processors:
            raise PipelineRequirementsException(
                "triples requires the depparse processor")
        from .operators.triples import (DEFAULT_PATTERN, DepPattern,
                                        triples_narrow)
        if isinstance(pattern, dict):
            pattern = {k: (DepPattern.from_semgrex(v) if isinstance(v, str)
                           else v) for k, v in pattern.items()}
        elif isinstance(pattern, str):
            pattern = DepPattern.from_semgrex(pattern)
        return triples_narrow(
            self._pages(docs),
            DEFAULT_PATTERN if pattern is None else pattern,
            decoder=self.decoder, processors=self.processors,
            variant=self.variant, en_only=False)

    def conllu(self, text: str) -> str:
        """Reference {:C} rendering of one document (requires the full
        pipeline: golden-format comments need constituency+sentiment)."""
        from .sources.conllu import render_document
        return render_document(text)

    def semgrex(self, docs, pattern: str,
                uniq: bool = False) -> DataFrame:
        """General Semgrex matching with ARBITRARY named nodes — every
        named node becomes an output column (the reference names any
        node; triples() is the subj/obj special case).  One row per root
        binding satisfying every clause.  The full bounded grammar is
        :mod:`~stanza_spark.operators.semgrex` — nested relation chains
        to any depth, governor direction ``<``, bounded ``>>`` dominance,
        negation, relation regexes, optional ``?``-clauses; a bare
        ``{}`` root defaults to VERB here (the facade is verb-rooted
        like the reference's patterns; an unconstrained root would bind
        every word).  Interpreted per sentence in one narrow pass from
        the pages (``semgrex.semgrex_narrow``) with this pipeline's
        variant, processors and decoder.  ``uniq=True`` collapses
        duplicate output rows (the Semgrex CLI's uniq post-step)."""
        if "depparse" not in self.processors:
            raise PipelineRequirementsException(
                "semgrex requires the depparse processor")
        from .operators.semgrex import SemNode, parse_semgrex, semgrex_narrow
        root = parse_semgrex(pattern)
        if root.upos is None and root.lemma_re is None:
            root = SemNode(root.name, ("VERB",), None, root.clauses)
        return semgrex_narrow(
            self._pages(docs), root, uniq=uniq, processors=self.processors,
            variant=self.variant, decoder=self.decoder, en_only=False)

    def ssurgeon(self, docs, rules) -> DataFrame:
        """Dependency-graph surgery from the facade — the reference's
        Ssurgeon entry point (stanza/server/ssurgeon.py) as declarative
        edit rules over the words DataFrame.  ``rules`` is a list of
        :class:`~stanza_spark.operators.ssurgeon.SsurgeonRule`, applied
        per sentence inside the annotation pass; returns the rewritten
        words table with the ``ss_edited`` lineage flag."""
        if "depparse" not in self.processors:
            raise PipelineRequirementsException(
                "ssurgeon requires the depparse processor")
        from .operators.annotate import map_pages
        from .operators.ssurgeon import SSURGEON_SCHEMA, ssurgeon_page
        variant, procs, decoder = (self.variant, self.processors,
                                   self.decoder)
        return self._morphseg(map_pages(
            self._pages(docs),
            lambda url, lang, text: ssurgeon_page(
                url, lang, text, rules, variant=variant, processors=procs,
                decoder=decoder),
            SSURGEON_SCHEMA, en_only=False))

    def tsurgeon(self, docs, rules) -> DataFrame:
        """Constituency-tree surgery from the facade — the reference's
        Tsurgeon entry point (stanza/server/tsurgeon.py).  ``rules`` is
        a list of :class:`~stanza_spark.operators.tsurgeon.TsurgeonRule`;
        returns (url, sent_id, tree) with every rule applied."""
        if "constituency" not in self.processors and \
                "depparse" not in self.processors:
            raise PipelineRequirementsException(
                "tsurgeon requires the depparse processor (trees are "
                "derived from the dependency analysis)")
        from .operators.constituency import constituency_trees
        from .operators.tsurgeon import apply_tsurgeon
        return apply_tsurgeon(
            constituency_trees(self._pages(docs)), rules)

    def tokensregex(self, docs, patterns) -> DataFrame:
        """Token-sequence pattern matching from the facade — the
        reference's TokensRegex entry point (stanza/server/
        tokensregex.py).  ``patterns``: one pattern (string or
        TokenSeqPattern) or a name->pattern dict (output gains a
        ``pattern`` column); matches never cross sentence bounds."""
        from .operators.tokensregex import (match_token_pattern,
                                            match_token_patterns)
        cols = ["url", "sent_id", "word_id", "text", "upos"]
        if "ner" in self.processors:
            cols.append("ner")      # enables [{ner:PERSON}] attributes
        w = self.process(docs).select(*cols)
        if isinstance(patterns, dict):
            return match_token_patterns(w, patterns)
        return match_token_pattern(w, patterns)
