"""Duplicate-cluster resolution: connected components over candidate pairs.

The LSH near-dup stages (`functions/dedup.py`) emit PAIRS, but dedup
policy acts on CLUSTERS — "keep one representative per group of mutual
near-dups".
Pairs→clusters is connected components, which neither the reference
(no dedup surface at all) nor Spark SQL has built in.

Implementation: iterative min-label propagation — every node starts
labelled with its own id; each round a node adopts the minimum label in
its neighbourhood; fixpoint = per-component minimum everywhere.  Each
round is one equi-join + one groupBy (plain shuffles, no Python), and
the number of rounds is the graph DIAMETER, not the node count — dup
clusters are near-cliques (diameter 1-3), so this converges in a few
rounds at any corpus size.  Adversarial long-chain graphs would want
the large-star/small-star variant (Kiveris et al., "Connected
Components in MapReduce"), which squares distances per round; not
needed for dedup workloads.

Lineage discipline: every round re-persists the label frame and
`localCheckpoint`s every few rounds — without this the plan doubles
per iteration and Catalyst analysis time explodes around round ~15.
The convergence check rides on the same action that materializes the
round's labels (one job per round, no extra pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.storagelevel import StorageLevel


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = 25,
    checkpoint_every: int = 5,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve undirected ``pairs`` into components.

    Returns ``(node, cluster_id)`` — one row per node that appears in
    any pair, ``cluster_id`` = the component's minimum node id.  Rows
    never in a pair are by definition their own singleton cluster and
    are NOT returned (join back with a left join + coalesce if needed).

    Two costs-per-round optimizations over textbook label propagation:

    - **Fused first round**: labels initialize to the CLOSED-neighborhood
      minimum ``min(node, min(neighbors))`` — one groupBy directly on the
      edge table, no join.  Star/clique components (the shape LSH dup
      clusters overwhelmingly take) are at fixpoint immediately, so the
      loop only pays for genuinely deep components.
    - **Join-free convergence check**: labels only ever decrease, so the
      label SUM (exact, decimal) is strictly monotone until fixpoint —
      comparing per-round sums detects convergence in the same action
      that materializes the round, replacing the old join+filter pass.

    ``stats`` (optional dict) receives ``{"rounds": n}`` — loop rounds
    actually run, the telemetry a caller asserts its diameter bound on.
    """
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("label"))
        .select(F.col("u").alias("node"), "label")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # exact (decimal) so sum-equality == elementwise fixpoint at any scale
    label_sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    # materializes the seed labels (round 0's join needs them anyway) and
    # lets a fixpoint-at-init graph exit after a single confirming round
    prev_sum = labels.agg(label_sum).collect()[0]["s"]
    rounds = 0
    try:
        for rnd in range(max_rounds):
            # neighbour labels: edge (u,v) sends label(u) to v; the union
            # keeps each node's own label in the min (a component's
            # minimum node has no smaller neighbour)
            prop = (
                edges.join(labels, edges.u == labels.node)
                .select(F.col("v").alias("node"), "label")
            )
            new_labels = (
                labels.select("node", "label").union(prop)
                .groupBy("node").agg(F.min("label").alias("label"))
            )
            if (rnd + 1) % checkpoint_every == 0:
                # truncate lineage so the plan stays O(1) per round
                new_labels = new_labels.localCheckpoint(eager=False)
            else:
                new_labels = new_labels.persist(StorageLevel.MEMORY_AND_DISK)
            # one action materializes the round AND measures progress
            new_sum = new_labels.agg(label_sum).collect()[0]["s"]
            labels.unpersist()
            labels = new_labels
            rounds = rnd + 1
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        if stats is not None:
            stats["rounds"] = rounds
        return labels.select("node", F.col("label").alias("cluster_id"))
    finally:
        edges.unpersist()


def dedup_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Keep-one-per-cluster dedup: drop every clustered doc except its
    component's minimum id; docs in no pair survive untouched.  One
    left join against the (small — only clustered ids) label table,
    broadcast-able when the dup set fits."""
    cc = connected_components(pairs, src=src, dst=dst)
    return (
        docs.join(cc, docs[id_col] == cc.node, "left")
        .filter(F.col("cluster_id").isNull()
                | (F.col(id_col) == F.col("cluster_id")))
        .drop("node", "cluster_id")
    )
