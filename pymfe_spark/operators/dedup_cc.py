"""Duplicate-cluster resolution: connected components over verified
near-duplicate pairs, and the keep/remove list a dedup pipeline
actually ships.

Pairwise dedup (dedup_ngram_jaccard / dedup_simhash_pairs /
dedup_embedding_lsh) emits edges; production dedup needs the
TRANSITIVE CLOSURE of those edges — if A~B and B~C, exactly one of
{A,B,C} survives even though (A,C) was never scored. This module
computes components with the alternating large-star / small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14 — public): every round is one groupBy + one equi-join
over the edge set, edge count never grows beyond 2|E|, and the round
count is O(log² n) in the worst case (2-3 rounds in practice for dup
clusters, which are near-cliques). No vertex ever holds its whole
component in memory — the classic label-propagation failure mode at
100 TB — and each round's shuffle is keyed by node id, so AQE handles
the mega-cluster skew the band caps upstream already bound.

The driver loop only fetches a (count, checksum) scalar per round for
convergence — loop CONTROL, not data movement — and truncates lineage
with localCheckpoint so the plan stays constant-size across rounds
(an iterative DataFrame loop otherwise compounds its own plan depth).

Oracle: DuckDB WITH RECURSIVE computes min-reachable-label over the
same (symmetrized) edge set — a different algorithm arriving at the
same fixpoint, which is exactly what a cross-engine oracle should be.

Reference scope note: pymfe has no graph operators; this is part of
the training-data-pipeline tier (brief: dedup as a first-class
component), composing with dedup.py's candidate generation
(``dedup_ngram_jaccard``: the capped shingle join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pymfe_spark.operators.dedup import _JACCARD_ORACLE, dedup_ngram_jaccard
from pymfe_spark.plans.catalog import register

GROUP = "dedup"

# near-dup edge threshold: pairs at or above this (6-decimal-rounded)
# Jaccard are duplicates. Both engines threshold the ROUNDED value, so
# boundary pairs agree bit-for-bit.
DUP_JACCARD = 0.5

_MAX_ROUNDS = 25  # O(log² n) bound; each round is cheap, this is a fuse


def _large_star(edges: DataFrame) -> DataFrame:
    """(a, b) canonical a > b -> for each node u, connect every
    LARGER neighbor to m = min(Γ(u) ∪ {u}). Output stays canonical:
    emitted (v, m) has v > u >= m."""
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
    mins = mins.select("a", F.least("a", "mn").alias("m"))
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """(a, b) canonical a > b -> for each node u, connect every
    SMALLER neighbor (and u itself) to m = min of u's smaller
    neighbors. Output canonical: b >= m with b != m, and a > m."""
    mins = edges.groupBy("a").agg(F.min("b").alias("m"))
    moved = (
        edges.join(mins, "a")
        .filter(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    kept = mins.select("a", F.col("m").alias("b"))
    return moved.union(kept).distinct()


def connected_components(edges: DataFrame) -> DataFrame:
    """Resolve components of an undirected edge list (columns a, b)
    into (node, label) stars where label = component minimum.

    Alternates large-star / small-star to fixpoint (edge-set checksum
    stable). Returns only nodes that appear in an edge; callers join
    singletons back with coalesce."""
    cur = (
        edges.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    prev_sig = None
    for _ in range(_MAX_ROUNDS):
        nxt = _small_star(_large_star(cur)).localCheckpoint()
        sig = nxt.agg(
            F.count("*").alias("n"),
            # xor-fold: order-independent and cannot overflow under
            # ANSI mode (sum of hashes can)
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        cur = nxt
        if sig == prev_sig:
            break
        prev_sig = sig
    # fixpoint edges are stars (node -> component min); the min itself
    # labels itself. Validate star shape — in a star set no parent is
    # itself a child — so a pathological non-convergence (the _MAX_ROUNDS
    # fuse) fails loudly instead of returning wrong labels.
    non_star = (
        cur.select(F.col("b").alias("x"))
        .join(cur.select(F.col("a").alias("x")).distinct(), "x", "semi")
        .count()
    )
    if non_star:
        raise RuntimeError(
            f"connected_components did not converge to stars within "
            f"{_MAX_ROUNDS} rounds ({non_star} chained edges remain)"
        )
    roots = cur.select(F.col("b").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    return cur.select(F.col("a").alias("node"), F.col("b").alias("label")).union(
        roots
    ).distinct()


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {_JACCARD_ORACLE}
), dup AS (
  SELECT doc_a, doc_b FROM pairs WHERE jaccard >= {DUP_JACCARD}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM dup
  UNION
  SELECT doc_b AS a, doc_a AS b FROM dup
), reach(node, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.lab FROM edges e JOIN reach r ON e.b = r.node
), lab AS (
  SELECT node AS doc_id, min(lab) AS cluster FROM reach GROUP BY node
), sz AS (
  SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY cluster
)
SELECT l.doc_id, l.cluster, s.cluster_size,
       l.doc_id = l.cluster AS keep
FROM lab l JOIN sz s USING (cluster)
"""


@register(
    "dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    group=GROUP,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup resolution: ngram-Jaccard pairs at >= DUP_JACCARD ->
    connected components -> per-document (cluster, cluster_size, keep)
    where keep marks the cluster's minimum doc_id (the canonical
    survivor) and singleton documents keep themselves.

    This is the query a training-data pipeline runs before writing the
    deduplicated corpus: anti-join the keep=false rows against the
    document table. Cluster sizes come from one groupBy on the label —
    never a per-component collect."""
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    edges = pairs.filter(F.col("jaccard") >= DUP_JACCARD).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    labels = connected_components(edges)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    lab = docs.join(
        labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("label", "doc_id").alias("cluster")
    )
    sz = lab.groupBy("cluster").agg(F.count("*").alias("cluster_size"))
    return lab.join(sz, "cluster").select(
        "doc_id",
        "cluster",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster")).alias("keep"),
    )
