"""Connected components over the near-duplicate pair graph —
cluster-level dedup (keep one representative per component, not per
pair).

Iterative small-star label propagation: every node repeatedly adopts
the minimum component id among itself and its neighbors until a
fixed point. Rounds grow with the graph's diameter: a path of d
edges needs d + 1 rounds (d to carry the smallest id to the far end,
one to see no change), so with a budget of 20 rounds a near-duplicate
chain of 20 or more edges raises.

Scale notes: each round is one join + one aggregation, both
partitioned on the node id (consistent partitioning → AQE reuses the
exchange); ``localCheckpoint`` truncates the growing lineage so
round N doesn't replay rounds 1..N-1. This is the one deliberately
iterative/driver-looped operator in the engine — the loop is over
*rounds*, never over rows. The reference has no
iterative operators at all (its only control flow is map→reduce,
SURVEY.md §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: round budget of the label propagation (a path of d edges needs d + 1)
_MAX_ROUNDS = 20


def connected_components(pairs: DataFrame) -> DataFrame:
    """(doc_id, component) from an undirected (d1, d2) edge list;
    component = min doc_id reachable. Isolated nodes absent from
    ``pairs`` are absent from the output (join the doc table with a
    coalesce to label singletons)."""
    edges = (
        pairs.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
        .union(pairs.select(F.col("d2").alias("a"), F.col("d1").alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint()
    )
    for _ in range(_MAX_ROUNDS):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        edges.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {_MAX_ROUNDS} rounds: a path "
            f"of d edges needs d + 1 rounds, so a near-duplicate chain of {_MAX_ROUNDS} "
            "or more edges exceeds the budget (ROADMAP direction 1: components in "
            "logarithmic rounds)"
        )
    edges.unpersist()
    return labels.select(F.col("node").alias("doc_id"), "component")
