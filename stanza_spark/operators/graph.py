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


def _recover_merge_dirs(existing_dir: str) -> None:
    """Crash recovery for the swap protocol below.  Invariant: at every
    instant at least one of existing/backup holds a complete committed
    table (_SUCCESS present).  A leftover tmp is always discardable (the
    merge that wrote it never committed); a leftover backup with no
    committed existing table means we died mid-swap — roll back."""
    import os
    import shutil

    tmp = existing_dir.rstrip("/") + ".__merge_tmp__"
    bak = existing_dir.rstrip("/") + ".__merge_bak__"
    committed = os.path.exists(os.path.join(existing_dir, "_SUCCESS"))
    if os.path.exists(bak):
        if committed:
            shutil.rmtree(bak)          # swap completed; drop the backup
        else:
            if os.path.exists(existing_dir):
                shutil.rmtree(existing_dir)
            os.rename(bak, existing_dir)  # roll back to pre-merge snapshot
    if os.path.exists(tmp):
        shutil.rmtree(tmp)


def merge_graph_edges(spark, existing_dir: str, new_triples: DataFrame,
                      aliases: DataFrame, batch_id: str | None = None) -> DataFrame:
    """Incremental upsert — the parquet equivalent of Iceberg's
    ``MERGE INTO graph_edges USING new ON keys WHEN MATCHED THEN UPDATE
    support = support + delta WHEN NOT MATCHED THEN INSERT`` (SURVEY §2.3
    C5).  Reads the existing table (if any), aggregates the delta, merges
    via full outer join on the canonical key.

    Crash-safety: commit = write tmp -> rename existing to backup -> rename
    tmp to existing -> delete backup; `_recover_merge_dirs` restores a
    consistent committed table from any interruption point (the Iceberg
    snapshot-commit stand-in).

    Idempotence: pass a stable ``batch_id`` per delta; merged batch ids are
    recorded in a ``_batches`` ledger inside the table directory and a
    re-submitted batch is a no-op instead of double-counting support.

    Returns the merged DataFrame (already persisted at ``existing_dir``).
    """
    import json
    import os
    import shutil

    _recover_merge_dirs(existing_dir)
    tmp = existing_dir.rstrip("/") + ".__merge_tmp__"
    bak = existing_dir.rstrip("/") + ".__merge_bak__"
    ledger = os.path.join(existing_dir, "_batches")

    committed = os.path.exists(os.path.join(existing_dir, "_SUCCESS"))
    batches: list[str] = []
    if committed and os.path.exists(ledger):
        with open(ledger) as f:
            batches = json.load(f)
    if batch_id is not None and batch_id in batches:
        return spark.read.parquet(existing_dir)  # replay: already merged

    delta = materialize_graph(new_triples, aliases) \
        .withColumnRenamed("support", "delta_support")
    if committed:
        existing = spark.read.parquet(existing_dir)
        merged = (
            existing.join(delta, ["subj_canon", "pred", "obj_canon"], "full")
            .select(
                "subj_canon", "pred", "obj_canon",
                (F.coalesce("support", F.lit(0))
                 + F.coalesce("delta_support", F.lit(0))).alias("support"))
        )
    else:
        merged = delta.withColumnRenamed("delta_support", "support")
    merged.write.mode("overwrite").parquet(tmp)
    # ALWAYS carry the existing ledger forward (even when this merge has no
    # batch_id): otherwise an unledgered merge would commit a table with no
    # _batches file, erasing replay protection for earlier batches — a
    # re-submitted old batch would then double-count support (ADVICE r2).
    if batch_id is not None:
        batches = batches + [batch_id]
    with open(os.path.join(tmp, "_batches"), "w") as f:
        json.dump(batches, f)
    # atomic-enough swap: the pre-merge table survives as `bak` until the
    # new table is fully in place; every intermediate state is recoverable
    if os.path.exists(existing_dir):
        os.rename(existing_dir, bak)
    os.rename(tmp, existing_dir)
    if os.path.exists(bak):
        shutil.rmtree(bak)
    return spark.read.parquet(existing_dir)
