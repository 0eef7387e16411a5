"""Language routing — the MultilingualPipeline analog (SURVEY §2.1 op 7).

The reference routes documents to per-language pipelines through an LRU
cache of loaded models (/root/reference/stanza/pipeline/multilingual.py:
58-61,141-146,163-177).  In Spark the routing is a partition predicate per
language config and the "model cache" is the executor-singleton module
state the annotator UDF closes over (lexicons/regexes in
stanza_spark.vocab import once per worker process — the per-executor
FoundationCache analog, core.py:216-219).

`route_and_annotate` runs the full annotator on languages with a full
config and a tokenize-only pass elsewhere, returning one unified words
table (annotation columns null where no model exists) — each branch is a
narrow pass over a disjoint slice, so the union costs nothing extra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .annotate import annotate
from .tokenize_sql import sentences_from_pages, tokens_sql

# six FULL languages: the per-language "models" are the en rule
# lexicons, the de lexicon + APPRART MWT dict (im -> in dem), the fr
# lexicon + preposition-article clitic MWT dict (du -> de le,
# test_french_pipeline.py golden shape), the ar lexicon + MULTI-clitic
# MWT dict (وللوزارة -> و + ل + الوزارة, a THREE-way split in an RTL
# script — test_arabic_pipeline.py golden shape), and the it / es
# lexicons + preposition-article MWT dicts (nel -> in il, del -> de el).
# The de/fr/es corpora carry real MWT expansions, so the routed word
# stream exercises tuple token ids corpus-wide; ar and it pages do not
# occur in the driver corpus, so only callers outside the gates reach
# their branch.
FULL_PIPELINE_LANGS = ("en", "de", "fr", "ar", "it", "es")


def route_and_annotate(pages_df: DataFrame) -> DataFrame:
    """pages -> unified words table: full annotation for
    FULL_PIPELINE_LANGS, tokenize+ssplit only for the rest."""
    full = annotate(pages_df.filter(F.col("lang").isin(*FULL_PIPELINE_LANGS)),
                    en_only=False)
    rest_tokens = tokens_sql(sentences_from_pages(
        pages_df.filter(~F.col("lang").isin(*FULL_PIPELINE_LANGS))))
    rest = rest_tokens.select(
        "url", "lang", "sent_id",
        F.lit(None).cast("bigint").alias("sent_start"),
        F.lit(None).cast("bigint").alias("sent_end"),
        F.col("token_id"),
        F.col("token_id").alias("word_id"),
        F.lit(False).alias("is_mwt"),
        F.col("token").alias("text"),
        F.lit(None).cast("bigint").alias("start_char"),
        F.lit(None).cast("bigint").alias("end_char"),
        *[F.lit(None).cast("string").alias(c)
          for c in ("upos", "xpos", "feats", "lemma")],
        F.lit(None).cast("int").alias("head"),
        F.lit(None).cast("string").alias("deprel"),
        F.lit(None).cast("string").alias("ner"),
    )
    return full.unionByName(rest)


def route_by_langid(pages_df: DataFrame, spark) -> DataFrame:
    """The reference MultilingualPipeline's ACTUAL routing semantics
    (multilingual.py:141-146): language id runs FIRST and routing follows
    the PREDICTION — the input's lang column (if any) is ignored.  Pages
    whose predicted language has a full config get full annotation; the
    rest (including 'und' — e.g. scripts with no stopword model) get
    tokenize-only.  The returned ``lang`` column is the prediction.

    Shape: the stopword-vote langid aggregate, then one join of the page
    corpus to its per-document prediction on the document key (co-located
    once the corpus is bucketed by url, plans/pipeline.py), then the same
    disjoint narrow routing branches as route_and_annotate."""
    from .textstats import langid

    p = pages_df.select("url", "text")
    pred = langid(p.select(F.col("url").alias("doc_id"), "text"),
                  spark).select(F.col("doc_id").alias("url"),
                                F.col("lang_pred").alias("lang"))
    # both routing branches (full-pipeline slice + tokenize-only rest)
    # consume the prediction join — eager-checkpoint so langid runs once,
    # not per branch (measured ~10 % end-to-end at sf0.1/local[32])
    routed = p.join(pred, "url").localCheckpoint(eager=True)
    return route_and_annotate(routed)
