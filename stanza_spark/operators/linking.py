"""Entity linking: mention -> broadcast alias dictionary (operator C3).

Dict-lookup-then-fallback is exactly the reference's lemma/MWT ensemble
shape (/root/reference/stanza/models/lemma/trainer.py:221-269): broadcast
hash join on the dictionary key, misses fall through.  The alias dictionary
is tiny relative to the corpus (entities << mentions), so `F.broadcast`
keeps the join shuffle-free at any corpus scale; the optional fuzzy stage
(MinHash-LSH over char n-grams, operators.dedup) only ever sees the
anti-join residue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import vocab as V

CHAR_N = 3       # characters per surface n-gram
FUZZY_T = 0.6    # least gram Jaccard for a fuzzy link


def alias_df(spark: SparkSession) -> DataFrame:
    # VALUES LocalRelation, not createDataFrame: the dictionary is built
    # into several broadcast sides per query, and a parallelize-backed
    # DataFrame re-runs a cores-wide Python stage per build (r7)
    from ..session import local_values_df
    return local_values_df(
        spark, V.alias_rows(),
        ["alias", "entity_id", "canonical_name", "entity_type"])


def link_mentions(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """mentions (operators.mentions schema) x broadcast aliases ->
    (url, sent_id, mention, type, entity_id, canonical_name, entity_type).
    Unlinked mentions drop out; ``unlinked_mentions`` is their residue."""
    a = F.broadcast(aliases.withColumn("alias_l", F.lower("alias")).drop("alias"))
    m = mentions.withColumn("alias_l", F.lower("mention"))
    return (
        m.join(a, "alias_l")
        .select("url", "sent_id", "mention", "type",
                "entity_id", "canonical_name", "entity_type")
    )


def unlinked_mentions(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """Anti-join residue for the fuzzy/LSH fallback (the `skip_seq2seq`
    pattern, lemma/trainer.py:236-250)."""
    a = F.broadcast(aliases.select(F.lower("alias").alias("alias_l")))
    m = mentions.withColumn("alias_l", F.lower("mention"))
    return m.join(a, "alias_l", "left_anti").drop("alias_l")


def _char_ngrams(col):
    """Distinct character CHAR_N-grams of a string column (whole string
    when shorter), as a pure higher-order-function expression.

    ``col`` must already be lowercased (both callers pass ``m_l`` /
    ``alias_l``): an expression such as ``lower(col)`` captured in the
    lambda would be re-evaluated once per gram."""
    return F.when(
        F.length(col) >= CHAR_N,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.length(col) - CHAR_N + 1),
                        lambda i: col.substr(i, F.lit(CHAR_N)))),
    ).otherwise(F.array(col))


def surface_features(df: DataFrame, col: str) -> DataFrame:
    """lowercased surface string column -> + ``_grams`` (distinct char
    CHAR_N-grams), ``_n`` (their count) and ``_bands`` (LSH band hashes),
    all in ONE narrow projection — no explode, no aggregation (r7, guide
    §2.4).

    The arithmetic is bit-identical to the exploded
    ``dedup.minhash_signatures`` chain — see
    :func:`~stanza_spark.operators.dedup.with_minhash_features`, which
    owns the signature/banding expressions; this wrapper only supplies
    the char-n-gram set."""
    from . import dedup as D
    return D.with_minhash_features(
        df.withColumn("_grams", _char_ngrams(F.col(col))), "_grams")


def fuzzy_link_mentions(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """Fuzzy fallback for dict-miss mentions (SURVEY C3): **MinHash-LSH
    blocking over char n-grams** (the north star's stated blocking
    scheme) of the anti-join residue against the alias dictionary, exact
    Jaccard verification on candidates only, best alias per surface at
    or above ``FUZZY_T``.

    Scale shape: matching runs once per DISTINCT miss surface (typo
    populations are tiny relative to occurrences); candidate pairs come
    from a banded signature join against the *broadcast* alias bands —
    never an all-pairs comparison and never a raw shared-gram join (hot
    grams cannot blow up a band bucket the way stop-grams would);
    occurrences get their link back through a broadcast join on the
    surface.  This is the corpus-scale analog of the reference's
    dict-then-expensive-model ensemble
    (/root/reference/stanza/models/lemma/trainer.py:236-269).
    Banding is deterministic md5 arithmetic, so candidate recall for a
    given surface pair is a fixed fact, not a coin flip: at (16 hashes,
    8 bands) a J=0.75 pair collides with probability 1-(1-J^2)^8 ≈ 0.999
    over random gram sets, and the planted corpus pairs are asserted
    exactly by the kg_links_fuzzy gate."""
    residue = unlinked_mentions(mentions, aliases)
    # eager-checkpoint the distinct miss surfaces (bounded: typo-surface
    # diversity, not occurrences): downstream feature/banding/scoring
    # then plans from a materialized tiny table — without it Catalyst
    # merges the surface-feature pipeline into the distinct's aggregate
    # stage and re-evaluates the minhash expressions per partial-distinct
    # row instead of per surface (measured 1.9 -> 1.0 s at sf0.1)
    surfaces = residue.select(F.lower("mention").alias("m_l")).distinct() \
        .localCheckpoint(eager=True)
    # r7 shape (guide §2.3/§2.4): both sides' gram sets, sizes and LSH
    # band hashes are ONE narrow projection each (surface_features) —
    # the old plan ran four explode+groupBy subtrees (m-grams, m-sizes,
    # a-grams twice, a-sizes) plus two banded signature aggregations.
    # Candidate verification is `array_intersect` over the carried gram
    # arrays (same distinct-gram sets, so |intersection| and the exact
    # Jaccard are bit-identical), and best-alias-per-surface is an
    # algebraic min-struct (-jaccard, alias_l, ...) instead of a window
    # — two hash exchanges total (surface distinct + best aggregate).
    mb = surface_features(surfaces, "m_l") \
        .select("m_l", "_grams", F.col("_n").alias("m_n"),
                F.posexplode("_bands").alias("band", "band_hash"))
    a = aliases.select(F.lower("alias").alias("alias_l"), "entity_id",
                       "canonical_name", "entity_type").distinct()
    ab = surface_features(a, "alias_l") \
        .select("alias_l", "entity_id", "canonical_name", "entity_type",
                F.col("_grams").alias("a_grams"),
                F.col("_n").alias("a_n"),
                F.posexplode("_bands").alias("band", "band_hash"))
    inter = F.size(F.array_intersect("_grams", "a_grams"))
    scored = (
        mb.join(F.broadcast(ab), ["band", "band_hash"])
        .withColumn("jaccard",
                    inter / (F.col("m_n") + F.col("a_n") - inter))
        .filter(F.col("jaccard") >= FUZZY_T)
    )
    # a pair colliding in several bands scores identically each time, so
    # the min-aggregate absorbs duplicates without a separate distinct
    best = (
        scored.groupBy("m_l")
        .agg(F.min(F.struct(
            (-F.col("jaccard")).alias("nj"),
            F.col("alias_l").alias("alias_l"),
            F.col("entity_id").alias("entity_id"),
            F.col("canonical_name").alias("canonical_name"),
            F.col("entity_type").alias("entity_type"))).alias("b"))
        .select("m_l", F.col("b.entity_id").alias("entity_id"),
                F.col("b.canonical_name").alias("canonical_name"),
                F.col("b.entity_type").alias("entity_type"))
    )
    return (
        residue.withColumn("m_l", F.lower("mention"))
        .join(F.broadcast(best), "m_l")
        .select("url", "sent_id", "mention", "type",
                "entity_id", "canonical_name", "entity_type")
    )


def link_mentions_with_fallback(mentions: DataFrame,
                                aliases: DataFrame) -> DataFrame:
    """Dict-first ensemble: exact broadcast-join links plus fuzzy links
    for the residue, tagged by ``method`` — the coalesce order of the
    reference's lemma ensemble (dict hit wins; the expensive path only
    ever sees misses)."""
    exact = link_mentions(mentions, aliases).withColumn(
        "method", F.lit("exact"))
    fuzzy = fuzzy_link_mentions(mentions, aliases).withColumn(
        "method", F.lit("fuzzy"))
    return exact.unionByName(fuzzy)
