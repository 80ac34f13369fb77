"""Canonicalization: connected components over the alias/duplicate graph.

North-rule stage "connected-components canonicalization via iterative
hash-join label propagation". Graphs that fit on the driver take a local
union-find; larger ones take one distributed path. Catalyst has no
iteration, so the driver runs a loop of DataFrame self-joins
(SURVEY.md §4 item 2):

- alternating large-star / small-star (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14): converges in O(log n)
  rounds even on adversarial long-chain graphs, where min-label
  propagation needs O(diameter) rounds;
- each round is two groupBy-min joins; ``localCheckpoint`` every round
  truncates the lineage so plans don't grow exponentially at 10^12-edge
  scale;
- convergence = an unchanged star edge set, computed with counts and an
  ``exceptAll`` probe (aggregates, not a collect of the data itself);
  reaching ``CC_MAX_ITER`` rounds without it is an error, never partial
  labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# round budget of the distributed large/small-star loop: it converges in
# O(log n) rounds, so 25 covers any graph this engine builds
CC_MAX_ITER = 25
# edge count at/below which the graph is collected and solved by a local
# union-find (the alias/duplicate graphs of a KG run are orders of
# magnitude smaller than the mention table)
CC_DRIVER_THRESHOLD = 100_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(src, dst) undirected edges → (id, canon_id) with canon_id = min
    member id of each component, for every node in a non-self edge.

    Hybrid execution: if the non-self edge list fits on the driver
    (≤ :data:`CC_DRIVER_THRESHOLD` edges), run union-find locally and
    broadcast the result: identical output, zero iterative Spark jobs.
    Larger graphs take the distributed large/small-star loop, which raises
    ``RuntimeError`` if it has not converged after :data:`CC_MAX_ITER`
    rounds (the tests patch both constants to exercise each path).
    """
    # single job: fetch up to threshold+1 rows; fall through if more
    sample = (
        edges.select(src, dst).where(F.col(src) != F.col(dst)).take(CC_DRIVER_THRESHOLD + 1)
    )
    if len(sample) <= CC_DRIVER_THRESHOLD:
        comp = _union_find_min_label([(r[0], r[1]) for r in sample])
        if not comp:
            return edges.sparkSession.createDataFrame(
                [], f"id {dict(edges.dtypes)[src]}, canon_id {dict(edges.dtypes)[dst]}"
            )
        return edges.sparkSession.createDataFrame(list(comp.items()), ["id", "canon_id"])

    def large_star(e: DataFrame) -> DataFrame:
        # symmetric neighborhoods; for each center a: m = min(N(a) ∪ {a});
        # re-link strictly-larger neighbors to m
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        return (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient high→low; for each center a: m = min(N(a) ∪ {a});
        # link every lower neighbor AND the center itself to m
        oriented = e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).where(F.col("a") != F.col("b"))
        mins = oriented.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        relinked = oriented.join(mins, "a").select(
            F.col("b").alias("a"), F.col("m").alias("b")
        )
        centers = mins.select(F.col("a"), F.col("m").alias("b"))
        return (
            relinked.union(centers)
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(CC_MAX_ITER):
        new_e = small_star(large_star(e)).localCheckpoint()
        # converged when the star edge set is stable: equal cardinality and
        # no edge in new∖old (two cheap distributed checks, no data collect)
        changed = (
            new_e.count() != e.count() or new_e.exceptAll(e).limit(1).count() > 0
        )
        e = new_e
        if not changed:
            break
    else:
        raise RuntimeError(
            "connected_components: star loop did not converge within "
            f"CC_MAX_ITER={CC_MAX_ITER} rounds"
        )
    # final star: every node points at its component min; the roots
    # themselves map to their own id
    members = e.select(F.col("a").alias("id"), F.col("b").alias("canon_id"))
    roots = e.select(F.col("b").alias("id")).distinct().withColumn("canon_id", F.col("id"))
    return members.union(roots).distinct()


def _union_find_min_label(pairs: list[tuple]) -> dict:
    """Union-find with min-label roots; same result as the converged star
    loop. Nodes appearing only in self-loops are excluded upstream."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def canonicalize_entities(
    linked: DataFrame,
    canon_edges: DataFrame,
) -> DataFrame:
    """linked mentions (entity_id) + duplicate edges → + canon_id column.

    Entities not in any duplicate component are their own canonicals. The
    component map is tiny relative to mentions → broadcast join.
    """
    components = connected_components(canon_edges)
    return (
        linked.join(
            F.broadcast(components.withColumnRenamed("id", "entity_id")),
            "entity_id",
            "left",
        )
        .withColumn("canon_id", F.coalesce(F.col("canon_id"), F.col("entity_id")))
    )
