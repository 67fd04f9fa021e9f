"""k-core decomposition (fixed k) — iterative peel on the undirected graph.

The k-core is the maximal subgraph in which every vertex has degree ≥ k;
it is THE classic web-graph pruning pass (crawl-frontier trimming, spam
farm isolation) run on exactly the adjacency the reference engine stores.
Semantics: repeatedly delete vertices of undirected degree < k until none
remain; the fixpoint is unique (independent of deletion order), so a
fixpoint loop and an unrolled oracle agree as long as the oracle unrolls
at least as many rounds as the loop needs.

The loop is ``peel``, a degree-table peel that the SCC trim
(operators/scc.py) shares: k-core peels one degree column under ``d < k``,
the trim peels in- and out-degree under ``din == 0 | dout == 0``.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.derived_graph import undirected_symmetrize


def drop(deg: DataFrame, removed: DataFrame, arcs: list) -> DataFrame:
    """One peel round: ``deg`` minus the ``removed`` vertices, every
    surviving degree decremented by the arcs the removal cost it.

    ``deg`` is the V-sized table (vertex, one column per degree) and
    ``arcs`` lists (table, key, target, column): an arc whose ``key`` end
    is removed costs its ``target`` end one unit of ``column``. The arc
    tables are joined against the removed set but never rewritten, so the
    state a round materializes is O(V), not O(E): the edge-rewrite form
    measured 24 s at 8.6M edges for a 13-round k-core peel, this one 9 s
    (guide §2.3 "shuffle fewer bytes"). Each arc's key end leaves in at
    most one round, so every surviving target is decremented exactly once
    per lost arc and the table holds the degrees INSIDE the surviving
    subgraph after every round. A vertex whose every degree reaches 0
    leaves here, without costing a round — as if it had vanished from a
    rewritten edge table."""
    cols = [c for c in deg.columns if c != "vertex"]
    dec = reduce(
        DataFrame.unionByName,
        [
            table.join(removed, table[key] == removed["vertex"]).select(
                F.col(target).alias("vertex"),
                *[F.lit(int(c == col)).alias(c) for c in cols],
            )
            for table, key, target, col in arcs
        ],
    ).groupBy("vertex").agg(*[F.sum(c).alias(f"_{c}") for c in cols])
    return (
        deg.join(removed, "vertex", "left_anti")
        .join(dec, "vertex", "left")
        .select(
            "vertex",
            *[(F.col(c) - F.coalesce(f"_{c}", F.lit(0))).alias(c) for c in cols],
        )
        .where(reduce(or_, [F.col(c) > 0 for c in cols]))
        .localCheckpoint(eager=True)
    )


def peel(deg: DataFrame, arcs: list, leaves: Column, max_rounds: int) -> DataFrame:
    """Drop every vertex matching ``leaves`` (a predicate over the degree
    columns) until none does; returns the surviving rows of ``deg`` with
    their degrees inside the surviving subgraph (see ``drop``).

    ``max_rounds`` bounds the removal rounds: max_rounds + 1 fixpoint
    checks bracket max_rounds removals, so a peel that needs exactly
    max_rounds removals still gets its final check instead of raising —
    the unrolled DuckDB k-core oracle (kcore_sql) runs the same bound.
    Raises if the bound is hit first, so a caller never receives a
    non-fixpoint silently."""
    for round_no in range(max_rounds + 1):
        removed = (
            deg.where(leaves)
            .select("vertex")
            .localCheckpoint(eager=True)  # computed once, reused by drop's joins
        )
        if removed.limit(1).count() == 0:
            return deg
        if round_no == max_rounds:
            break
        deg = drop(deg, removed, arcs)
    raise RuntimeError(f"peel did not converge within max_rounds={max_rounds}")


def kcore(
    edges: DataFrame,
    k: int = 3,
    max_rounds: int = 32,
) -> DataFrame:
    """(vertex, core_deg) — vertices of the k-core with their degree INSIDE
    the core. Empty result if the graph has no k-core.

    ``max_rounds`` bounds the peel; the loop exits early at the fixpoint
    (no vertex below k). Raises if the bound is hit before convergence so
    a caller never receives a non-core silently — the unrolled DuckDB
    oracle replays the same bound.
    """
    # self-loops are excluded (standard simple-graph k-core: a vertex's
    # self-loop must not keep it in the core) — found on the real
    # cnr-2000, whose BVGraph stream contains them; the derived gate
    # graph has none, so the oracle's und CTE needs no mirror filter
    und = undirected_symmetrize(edges).where(F.col("src") != F.col("dst"))
    e = und.localCheckpoint(eager=True)
    deg = (
        e.groupBy(F.col("src").alias("vertex"))
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=True)
    )
    core = peel(deg, [(e, "src", "dst", "d")], F.col("d") < k, max_rounds)
    return core.withColumnRenamed("d", "core_deg")
