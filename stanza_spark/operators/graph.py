"""Graph materialize + dedup (operator C5): triples -> canonical, deduplicated
``graph_edges(subj_canon, pred, obj_canon, support)``.

Canonical ids come from the broadcast alias dictionary (C3); surfaces that
don't link keep their lowercased surface as id.  The aggregation is algebraic
(count), so Spark's partial (map-side) aggregation absorbs Zipfian entity
skew before the shuffle; for holistic aggregates (e.g. collect_set of source
urls) use `salted_support` which two-stage-aggregates over a salted key
(SURVEY §2.3 C6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _canon(triples: DataFrame, aliases: DataFrame, col: str) -> DataFrame:
    a = F.broadcast(
        aliases.select(F.lower("alias").alias(f"{col}_l"),
                       F.col("entity_id").alias(f"{col}_eid"))
    )
    t = triples.withColumn(f"{col}_l", F.lower(col))
    return (
        t.join(a, f"{col}_l", "left")
        .withColumn(f"{col}_canon", F.coalesce(f"{col}_eid", f"{col}_l"))
        .drop(f"{col}_l", f"{col}_eid")
    )


def materialize_graph(triples: DataFrame, aliases: DataFrame) -> DataFrame:
    """-> (subj_canon, pred, obj_canon, support)."""
    t = _canon(_canon(triples, aliases, "subj"), aliases, "obj")
    return (
        t.groupBy("subj_canon", "pred", "obj_canon")
        .agg(F.count(F.lit(1)).alias("support"))
    )


def salted_support(triples: DataFrame, aliases: DataFrame,
                   n_salt: int = 16) -> DataFrame:
    """Two-stage skew-safe variant: first aggregate on a salted key
    (pmod(xxhash64(url), n_salt)), then merge — the cluster-scale analog of
    the reference's long-row isolation
    (/root/reference/stanza/models/depparse/data.py:46-51)."""
    t = _canon(_canon(triples, aliases, "subj"), aliases, "obj")
    salted = t.withColumn("salt", F.pmod(F.xxhash64("url"), F.lit(n_salt)))
    partial = (
        salted.groupBy("subj_canon", "pred", "obj_canon", "salt")
        .agg(F.count(F.lit(1)).alias("psupport"),
             F.collect_set("url").alias("purls"))
    )
    return (
        partial.groupBy("subj_canon", "pred", "obj_canon")
        .agg(F.sum("psupport").alias("support"),
             F.slice(F.array_sort(F.flatten(F.collect_list("purls"))), 1, 5)
              .alias("sample_urls"))
    )


PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85


def pagerank(edges: DataFrame) -> DataFrame:
    """Entity importance over the KG: the classic unnormalized power
    iteration  r(v) = (1-d) + d * Σ_{u->v} r(u)/outdeg(u) with
    d = PAGERANK_DAMPING, a fixed PAGERANK_ITERS rounds (deterministic —
    no convergence tolerance on floats).
    Dangling nodes keep rank but donate nothing (the standard simplified
    variant).  Per-iteration ranks round to 9 decimals so the result is
    bit-reproducible across engines and partitionings (same device as the
    k-means centroid means); the DuckDB oracle (queries._pagerank_oracle)
    unrolls the identical iterations from the same two constants.

    Shape: one distinct + degree aggregate up front; each round is one
    join of the edge list to the current rank vector on the source key
    plus one sum aggregate on the destination key — both map-side
    combinable; the edge list, node set and each round's ranks are
    checkpointed, which truncates lineage per round.
    -> (node, rank to 6 dp)."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")) \
        .distinct().localCheckpoint(eager=True)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, "src")
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))).distinct() \
        .localCheckpoint(eager=True)
    ranks = nodes.select("node", F.lit(1.0).alias("r"))
    # round the base so the SQL-literal twin parses to the same double
    base = F.lit(round(1.0 - PAGERANK_DAMPING, 12))
    for _ in range(PAGERANK_ITERS):
        contribs = (
            ed.join(ranks, ed.src == ranks.node)
            .select(F.col("dst").alias("node"),
                    (F.col("r") / F.col("deg")).alias("c"))
            .groupBy("node").agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select("node",
                    F.round(base + PAGERANK_DAMPING
                            * F.coalesce("inflow", F.lit(0.0)), 9).alias("r"))
        ).localCheckpoint(eager=True)
    return ranks.select("node", F.round("r", 6).alias("rank"))
