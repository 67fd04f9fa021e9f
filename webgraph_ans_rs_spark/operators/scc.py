"""Strongly connected components: trim + forward-max coloring + backward sweep.

The distributed SCC recipe (Orzan-style coloring, the shape FW-BW/
coloring papers converge on), expressed in joins and aggregations:

1. **Trim**: a vertex with in-degree 0 (or out-degree 0) in the remaining
   subgraph is a singleton SCC. This is k-core's degree-table ``peel``
   (operators/kcore.py) over a V-sized (vertex, din, dout) table: the edge
   set is never rewritten, only scanned against each round's removed
   vertices. On web-ish graphs this removes the tree-like mass cheaply and
   leaves only cycle-bearing cores.
2. **Color**: propagate the MAX vertex id forward to a fixpoint:
   color(v) = max{u : u →* v} (including v). Roots are vertices with
   color(v) == v.
3. **Backward sweep**: within each color class, vertices that can reach
   their root form EXACTLY the root's SCC (any path from a color-r vertex
   to r stays inside color r: every vertex w on it satisfies r →* w →* r,
   so color(w) = r). So the sweep is one ``bfs_levels`` from the roots
   over the reversed intra-color arcs. The found SCCs leave the degree
   table through the peel's own decrement step (``drop``); repeat from 1.

Every step is a vertex-keyed join or max-aggregation with map-side
partials — no window functions, no label-keyed joins (the same reducer
discipline as the large-star/small-star CC). Each fixpoint iteration
costs one action for convergence detection; iterations are bounded by
the remaining subgraph's diameter, and outer rounds by its "SCC-DAG
depth" — small for web-shaped graphs after trimming.

Output: (vertex, scc_id) with scc_id = MIN member id (canonical,
matching the oracle's mutual-reachability MIN).
"""

from __future__ import annotations

import sys
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bfs import bfs_levels
from .kcore import drop, peel

_NEG_INF = -(2**63)
# canonicalization: roots whose SCC could dominate a shuffle partition are
# routed through a broadcast join; 64 covers every realistic web graph
# (there is ONE giant SCC plus a tail of small ones — Broder's bow-tie)
GIANT_ROOTS_TOP_K = 64


def strongly_connected_components(
    edges: DataFrame,
    verts: DataFrame,
    max_rounds: int = 64,
) -> DataFrame:
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    # removing a vertex costs its successors one in-arc, its predecessors
    # one out-arc
    arcs = [(e, "src", "dst", "din"), (e, "dst", "src", "dout")]
    trivial = (F.col("din") == 0) | (F.col("dout") == 0)
    din = e.groupBy(F.col("dst").alias("vertex")).agg(F.count("*").alias("din"))
    dout = e.groupBy(F.col("src").alias("vertex")).agg(F.count("*").alias("dout"))
    deg = (
        verts.select("vertex")
        .join(din, "vertex", "left")
        .join(dout, "vertex", "left")
        .fillna(0, ["din", "dout"])
        .localCheckpoint(eager=True)
    )
    found: list[DataFrame] = []
    for _ in range(max_rounds):
        # -- 1. trim singleton SCCs (no in-arcs or no out-arcs) ----------
        # (round budget: a trim round removes at least one vertex)
        deg = peel(deg, arcs, trivial, sys.maxsize)
        if deg.isEmpty():
            break
        rem_e = (
            e.join(deg.select(F.col("vertex").alias("src")), "src", "left_semi")
            .join(deg.select(F.col("vertex").alias("dst")), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        # -- 2. forward max coloring to fixpoint -------------------------
        color = deg.select(
            "vertex", F.col("vertex").alias("color")
        ).localCheckpoint(eager=True)
        while True:
            cand = _coloring_candidates(rem_e, color)
            new_color = (
                color.join(cand, "vertex", "left")
                .select(
                    "vertex",
                    F.greatest(
                        F.col("color"), F.coalesce(F.col("c2"), F.lit(_NEG_INF))
                    ).alias("color"),
                )
                .localCheckpoint(eager=True)
            )
            converged = (
                new_color.join(
                    color.withColumnRenamed("color", "old"), "vertex"
                )
                .where(F.col("color") != F.col("old"))
                .isEmpty()
            )
            color = new_color
            if converged:
                break
        # -- 3. backward sweep from the roots within each color class ----
        back = (
            rem_e.join(color.toDF("src", "cs"), "src")
            .join(color.toDF("dst", "cd"), "dst")
            .where(F.col("cs") == F.col("cd"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .localCheckpoint(eager=True)
        )
        roots = color.where(F.col("color") == F.col("vertex"))
        # depth budget: the sweep ends at its own fixpoint
        mark = bfs_levels(back, roots, sys.maxsize).select("vertex")
        found.append(color.join(mark, "vertex", "left_semi").toDF("vertex", "root"))
        deg = drop(deg, mark, arcs)
    else:
        if not deg.isEmpty():
            raise RuntimeError(
                "strongly_connected_components: max_rounds exhausted with "
                f"{deg.count()} vertices unassigned"
            )
    # a vertex in no found SCC was trimmed: it is its own SCC
    assigned = verts.select("vertex", F.col("vertex").alias("root"))
    if found:
        assigned = verts.select("vertex").join(
            reduce(DataFrame.unionByName, found), "vertex", "left"
        ).select("vertex", F.coalesce("root", "vertex").alias("root"))
    return finalize_assignments(assigned)


def finalize_assignments(assigned: DataFrame) -> DataFrame:
    """(vertex, root) → (vertex, scc_id) with scc_id = MIN member id.

    This is the engine's only label-keyed join, and on a web graph the
    giant SCC puts ~25% of all vertices behind ONE root key — a plain
    assigned⋈mins join would funnel them through a single shuffle
    partition (AQE skew-join only sometimes fires for shuffle-hash
    joins). Skew-safe form: the per-root (size, min) aggregation is
    map-side-partial (hub fan-in collapses before the shuffle — an
    aggregation never has the skew problem the JOIN has), the top-K
    largest roots are collected (K rows, not data) and resolved via a
    BROADCAST join that keeps the giant root's rows on their existing
    partitions, and only the bounded remainder goes through the
    root-keyed shuffle join. Audited by tools/plan_audit.py check 18."""
    spark = assigned.sparkSession
    stats = assigned.groupBy("root").agg(
        F.count("*").alias("n"), F.min("vertex").alias("scc_id")
    ).localCheckpoint(eager=True)
    top = (
        stats.orderBy(F.desc("n"), F.asc("root"))
        .limit(GIANT_ROOTS_TOP_K)
        .select("root", "scc_id")
        .collect()
    )
    giants = F.broadcast(
        spark.createDataFrame(
            [(r.root, r.scc_id) for r in top] or [(None, None)],
            "root long, scc_id long",
        ).where(F.col("root").isNotNull())
    )
    giant_part = assigned.join(giants, "root").select("vertex", "scc_id")
    rest = (
        assigned.join(giants.select("root"), "root", "left_anti")
        .join(stats.select("root", "scc_id"), "root")
        .select("vertex", "scc_id")
    )
    return giant_part.unionByName(rest)


def _coloring_candidates(rem_e: DataFrame, color: DataFrame) -> DataFrame:
    """One forward MAX-propagation step: per dst, the max color among its
    in-neighbors. Map-side partial max, keyed by vertex id — never a
    window, never a join keyed on the converging color (audited by
    tools/plan_audit.py check 16 against THIS function)."""
    return (
        rem_e.join(color.withColumnRenamed("vertex", "src"), "src")
        .groupBy("dst")
        .agg(F.max("color").alias("c2"))
        .withColumnRenamed("dst", "vertex")
    )
