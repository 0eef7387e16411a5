"""Corpus-wide canonicalization: connected components over mention-alias
edges + representative selection (operator C4).

Generalizes the reference's per-document representative-mention rule —
longest span, ties by earliest — from coref chains
(/root/reference/stanza/models/coref/coref_chain.py:66-69) to corpus scope.

Connected components run as the alternating **large-star / small-star**
edge-rewriting iteration (Kiveris et al., "Connected Components in
MapReduce and Beyond", SOCC'14), expressed purely as DataFrame
aggregations + joins:

* large-star(u): every neighbor v > u re-points to m = min(N(u) ∪ {u})
* small-star(u): over edges oriented child=max endpoint, every neighbor
  (all ≤ u) plus u itself re-points to the minimum

Each operation halves the height of label-chains, so a path graph of n
nodes converges in O(log n) rounds — not the O(n) of plain min-label
propagation (verified on a deep chain in tests/test_operators_spark.py).
Convergence is detected by an order-insensitive edge-set checksum
observed on each round's `localCheckpoint` (no extra job, no driver-side
diff join); the checkpoint truncates lineage each round (SURVEY §4
custom-work item (e)).  No GraphFrames dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F, Window


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star operation over an undirected edge list."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = (
        sym.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("m"))
    )
    return (
        sym.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star operation: orient edges child = max endpoint, then
    all of child's smaller neighbors (and the child) point to the min."""
    oriented = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.greatest("src", "dst").alias("u"),
                F.least("src", "dst").alias("v"))
        .distinct()
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = (
        oriented.join(m, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )
    selfe = m.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return nbrs.union(selfe).distinct()


def _checkpoint(edges: DataFrame):
    """Eagerly checkpoint an edge set -> (checkpointed edges, its
    order-insensitive (count, sum-of-hash) fingerprint), the fingerprint
    observed on the checkpoint job itself."""
    sig = Observation()
    cur = edges.observe(
        sig, F.count(F.lit(1)).alias("n"),
        # decimal(38,0) accumulator: a sum of 64-bit hashes overflows long
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
    ).localCheckpoint(eager=True)
    m = sig.get
    return cur, (m["n"], m["h"])


def connected_components(edges: DataFrame, nodes: DataFrame | None = None,
                         max_iter: int = 20) -> DataFrame:
    """edges(src, dst) undirected (+ optional nodes(node) to keep
    singletons) -> (node, component_id) with component_id = min label.

    Raises RuntimeError if the star iteration has not converged after
    ``max_iter`` rounds (returning silently would hand wrong component ids
    downstream); for arbitrary graphs max_iter=20 covers > 2^20 nodes.

    Each round's edge set is checkpointed (the star steps read their input
    more than once, so an uncut plan grows super-linearly with rounds), and
    the checkpoint job also yields the round's edge-set fingerprint.  A
    fingerprint repeating one round apart means the deterministic step hit
    a fixed point, which is the converged star forest."""
    cur, prev_sig = _checkpoint(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"))
        .distinct())
    converged = prev_sig[0] == 0
    i = 0
    while i < max_iter and not converged:
        cur, sig = _checkpoint(_small_star(_large_star(cur)))
        i += 1
        converged = sig == prev_sig
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    # at convergence `cur` is a star forest: (child, root) with root = the
    # component minimum.  Label every node; absent nodes are singletons.
    labels = (
        cur.select(F.col("src").alias("node"), F.col("dst").alias("comp"))
        .union(cur.select(F.col("dst").alias("node"),
                          F.col("dst").alias("comp")))
        .groupBy("node").agg(F.min("comp").alias("comp"))
    )
    if nodes is not None:
        labels = (
            nodes.select("node").distinct()
            .join(labels, "node", "left")
            .select("node", F.coalesce("comp", "node").alias("comp"))
        )
    return labels.withColumnRenamed("comp", "component_id")


def alias_edges(linked: DataFrame) -> DataFrame:
    """linked mentions -> undirected edges between surface forms sharing an
    entity (self-join on entity_id; surfaces lowercased as node labels)."""
    nodes = (
        linked.filter(F.col("entity_id").isNotNull())
        .select(F.lower("mention").alias("node"), "entity_id")
        .distinct()
    )
    a, b = nodes.alias("a"), nodes.alias("b")
    return (
        a.join(b, "entity_id")
        .filter(F.col("a.node") < F.col("b.node"))
        .select(F.col("a.node").alias("src"), F.col("b.node").alias("dst"))
        .distinct()
    )


def canonicalize(linked: DataFrame) -> DataFrame:
    """linked mentions -> (node, component_id, representative).

    representative = longest surface in the component, ties broken
    lexicographically (the coref_chain.py:66-69 rule, corpus-wide).
    """
    nodes = (
        linked.filter(F.col("entity_id").isNotNull())
        .select(F.lower("mention").alias("node")).distinct()
    )
    comps = connected_components(alias_edges(linked), nodes)
    w = Window.partitionBy("component_id").orderBy(
        F.length("node").desc(), F.col("node").asc()
    )
    reps = (
        comps.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("component_id", F.col("node").alias("representative"))
    )
    return comps.join(reps, "component_id").select(
        "node", "component_id", "representative"
    )
