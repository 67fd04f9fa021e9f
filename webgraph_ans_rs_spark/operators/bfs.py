"""Multi-source BFS: the level-synchronous frontier expansion behind every
exact ball kernel (min-hop distances, exact neighbourhood function, exact
harmonic centrality).

The WebGraph toolchain's bfs/distance utilities run over exactly the
successor lists the reference compresses (its random-access benches ARE
per-node frontier enumerations, /root/reference/examples/
bench_random_access.rs:28-41); at engine scale this is the standard
distributed frontier BFS: per level, one join of the (small) frontier
against the edge table plus one anti join against the visited set — both
keyed by vertex id (and the source key, when balls are tracked per
source), nothing ever materializes more than (visited + frontier
expansion) rows. Levels are synchronous supersteps, so the result is
exact min-hop distances.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bfs_levels(
    edges: DataFrame, sources: DataFrame, max_depth: int, key: str | None = None
) -> DataFrame:
    """([key,] vertex, dist): every vertex reachable from ``sources``
    within ``max_depth`` directed hops, at its min-hop distance. Without
    ``key`` all sources form ONE multi-source ball; with it, ``sources``
    carries (key, vertex) rows and one ball per key value is expanded in
    the same joins. Per level: frontier ⋈ edges → dropDuplicates → anti
    join against the visited set → checkpoint; a level that adds nothing
    ends the expansion (callers routinely pass a generous depth budget —
    the remaining levels would schedule dead join+anti-join+checkpoint
    jobs)."""
    ks = [key] if key else []
    dist = (
        sources.select(*ks, "vertex")
        .dropDuplicates([*ks, "vertex"])  # caller unions without distinct happen
        .select(*ks, "vertex", F.lit(0).alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    e = edges.select(F.col("src").alias("vertex"), "dst")
    for t in range(1, max_depth + 1):
        new = (
            frontier.join(e, "vertex")
            .select(*ks, F.col("dst").alias("vertex"))
            .dropDuplicates([*ks, "vertex"])
            .join(dist, [*ks, "vertex"], "left_anti")
            .select(*ks, "vertex", F.lit(t).alias("dist"))
            .localCheckpoint(eager=True)
        )
        if new.isEmpty():
            break
        dist = dist.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    return dist


def bfs_distances(
    edges: DataFrame, seeds: DataFrame, max_depth: int
) -> DataFrame:
    """(vertex, dist) for every vertex reachable from ``seeds`` (column
    ``vertex``) within ``max_depth`` directed hops; dist = min #hops
    (seeds themselves at 0). Vertices not reached within the budget are
    absent — callers wanting ∞ rows left-join against their vertex set."""
    return bfs_levels(edges, seeds, max_depth)
