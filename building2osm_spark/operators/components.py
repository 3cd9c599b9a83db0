"""Connected components over sets of ids (SURVEY.md J10).

The one graph-shaped operator the engine needs, shared by rectify/simplify
(refs that share a vertex), greedy conflation (the imports one OSM building
meets) and near-dup clustering (candidate id pairs). Each input row is a
set of ids known to be connected; the components are the transitive
closure over every set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# id sets; below it one collect + driver union-find (one job, no iterative
# shuffles — per-round join+agg latency dominates bounded graphs), above
# it distributed min-label propagation. Ids only: ~50 MB collected at the
# bound for pair-sized sets
DRIVER_MAX = 1_000_000


def connected_components(sets: DataFrame, max_iter: int = 20) -> tuple[DataFrame, int]:
    """((node, cluster), n_nodes) over a frame with ONE array<id> column:
    cluster is the smallest member id of the node's component, n_nodes
    the number of labelled nodes. The count comes free from the work the
    routine does anyway (the collected sets, or the last propagation
    round's convergence job), so a caller that sizes a shuffle by it or
    skips an empty graph pays no extra job.

    Every non-NULL id of every set is labelled (a one-member set labels
    its id as its own cluster); NULL ids are dropped; the id type is
    preserved. Up to DRIVER_MAX sets: one collect and a driver union-find
    whose roots are always the smallest member; the result is a
    broadcast-hinted local frame. Above it: each set becomes star edges
    (smallest member, member) and distributed min-label propagation runs
    over them (ids only; rounds ≈ component diameter), RAISING on
    non-convergence rather than silently splitting a component."""
    (col,) = sets.columns
    id_t = sets.schema[col].dataType.elementType.simpleString()
    ids = (
        sets.select(F.filter(col, lambda v: v.isNotNull()).alias("ids"))
        .filter(F.size("ids") > 0)
        .persist()
    )
    n = ids.count()
    if n <= DRIVER_MAX:
        rows = ids.collect() if n else []
        ids.unpersist()
        parent: dict = {}

        def find(x):
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while x != root:
                parent[x], x = root, parent[x]
            return root

        for (members,) in rows:
            r0 = find(members[0])
            for v in members[1:]:
                r1 = find(v)
                if r0 != r1:
                    # keep the smaller root: a root is its component's min
                    if r1 < r0:
                        r0, r1 = r1, r0
                    parent[r1] = r0
        mapping = [(v, find(v)) for v in parent]
        labels = sets.sparkSession.createDataFrame(
            mapping, schema=f"node {id_t}, cluster {id_t}"
        )
        return F.broadcast(labels), len(mapping)

    star = ids.select(
        F.array_min("ids").alias("a"), F.explode("ids").alias("b")
    )
    edges = (
        star.unionByName(star.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .localCheckpoint(eager=False)
    )
    ids.unpersist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster", F.col("node"))
        .persist()
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("cluster").alias("__nc"))
        )
        new_labels = (
            labels.join(nbr, labels["node"] == nbr["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("cluster"), F.coalesce(F.col("__nc"), F.col("cluster"))
                ).alias("cluster"),
            )
            .persist()
        )
        # one job answers both "converged?" and "how many nodes?"
        changed, n_nodes = (
            labels.alias("o")
            .join(new_labels.alias("nw"), "node")
            .agg(
                F.count_if(F.col("o.cluster") != F.col("nw.cluster")),
                F.count("*"),
            )
            .first()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            # hand back ContextCleaner-managed blocks, not a persist that
            # would outlive the call in a long-lived session
            out = labels.localCheckpoint(eager=False)
            labels.unpersist()
            return out, n_nodes
    labels.unpersist()
    raise RuntimeError(
        f"connected_components: min-label propagation did not converge in "
        f"{max_iter} rounds (component diameter > ~{2 * max_iter}); "
        f"re-run with a larger max_iter"
    )
