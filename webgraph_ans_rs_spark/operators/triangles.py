"""Triangle counting via degree-ordered orientation + two joins.

Semantics: triangles of the *undirected* graph (edges symmetrized, then
acyclically oriented). Any acyclic orientation gives each triangle exactly
one a→b, b→c, a→c pattern, so the join plan e1 ⋈ e2 ⋈ e3 counts each
triangle exactly once regardless of which orientation is used.

Scale: the DEFAULT orientation is by (degree, id) — ``orient_by_degree`` —
so hubs keep only their higher-degree forward neighbors, bounding the
first join's per-key fan-out and total work by O(E^1.5) on any graph
(SURVEY.md §7 hard part (e)). On a power-law web graph at 100×, a hub with
1e7 smaller-id forward neighbors would make the id-oriented first join
explode; the degree orientation gives that hub ~0 forward edges instead.
Id-orientation (``oriented_edges``) is kept as the pure-SQL
oracle-comparable form; both count the same triangles (asserted in
tests/test_components_labels_triangles.py on a hub-skewed fixture).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.derived_graph import undirected_symmetrize


def oriented_edges(edges: DataFrame) -> DataFrame:
    """Undirected-ize then keep a<b once."""
    und = undirected_symmetrize(edges)
    return und.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )


def orient_by_degree(edges: DataFrame) -> DataFrame:
    """Orient each undirected edge from lower-(degree, id) to higher —
    the hub-safe orientation for skewed graphs."""
    e, _ = _orient_and_degrees(edges, materialize=False)
    return e


def _orient_and_degrees(
    edges: DataFrame, materialize: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(oriented (a, b) edges, per-vertex undirected degree (v, d)).

    ``materialize=True`` (the query path) localCheckpoints the shared
    stages: the triangle join consumes the oriented set THREE times and
    ``transitivity`` additionally reads the degree table — without the
    barrier Catalyst re-executes the whole symmetrize+degree-join subtree
    per consumer (measured 38 s → 15 s on the 8.6M-edge bench graph,
    guide §3.3 "materialising an intermediate truncates the plan").

    Degrees exclude self-loops (they are never part of a triangle or a
    wedge); any (degree, id) orientation is acyclic, so the triangle SET
    is identical whichever degree convention orients it.
    """
    und = undirected_symmetrize(edges).where(F.col("src") != F.col("dst"))
    if materialize:
        und = und.localCheckpoint(eager=True)
    deg = und.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
    if materialize:
        deg = deg.localCheckpoint(eager=True)
    # shuffle_hash: both joins attach the V-sized degree table to the
    # E-sized half-edge set — hash build of the small side beats the
    # planner's default sort-merge (guide §3.1), and stays scale-safe
    # where a V-sized broadcast would not.
    e = (
        und.where(F.col("src") < F.col("dst"))
        .join(
            deg.withColumnRenamed("v", "src").withColumnRenamed("d", "ds").hint(
                "shuffle_hash"
            ),
            "src",
        )
        .join(
            deg.withColumnRenamed("v", "dst").withColumnRenamed("d", "dd").hint(
                "shuffle_hash"
            ),
            "dst",
        )
    )
    fwd = F.when(
        (F.col("ds") < F.col("dd")) | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))),
        F.struct(F.col("src").alias("a"), F.col("dst").alias("b")),
    ).otherwise(F.struct(F.col("dst").alias("a"), F.col("src").alias("b")))
    e = e.select(fwd.alias("e")).select("e.a", "e.b")
    if materialize:
        e = e.localCheckpoint(eager=True)
    return e, deg


def triangle_list(edges: DataFrame, orientation: str = "degree") -> DataFrame:
    """(a, b, c) — every triangle of the undirected graph exactly once.

    ``orientation="degree"`` (default): hub-safe (degree, id) orientation,
    O(E^1.5) join work. ``orientation="id"``: a<b<c ordering, the
    oracle-comparable pure-SQL form. Both enumerate the same triangles
    (vertex sets are equal; the (a, b, c) naming differs per orientation).
    """
    if orientation == "degree":
        e, _ = _orient_and_degrees(edges)
    else:
        e = oriented_edges(edges).localCheckpoint(eager=True)
    return _triangle_join(e)


def _triangle_join(e: DataFrame) -> DataFrame:
    """(a, b, c) triangle join over a MATERIALIZED oriented edge set —
    e is read three times, so the caller must pass a checkpointed/cached
    frame or pay the subtree three times."""
    e1 = e.alias("e1")
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c")).alias("e2")
    e3 = e.select(F.col("a").alias("a"), F.col("b").alias("c")).alias("e3")
    return (
        e1.join(e2.hint("shuffle_hash"), "b")
        .join(e3.hint("shuffle_hash"), ["a", "c"])
        .select("a", "b", "c")
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Single-row (n_triangles long)."""
    return triangle_list(edges).agg(F.count("*").alias("n_triangles"))


def triangles_per_vertex(edges: DataFrame, verts: DataFrame) -> DataFrame:
    """(vertex, n_tri) — triangles each vertex participates in; 0 rows kept."""
    tri = triangle_list(edges)
    parts = (
        tri.select(F.col("a").alias("vertex"))
        .unionAll(tri.select(F.col("b").alias("vertex")))
        .unionAll(tri.select(F.col("c").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("n_tri"))
    )
    return verts.join(parts, "vertex", "left").select(
        "vertex", F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri")
    )


def transitivity(edges: DataFrame, round_dp: int = 6) -> DataFrame:
    """Single row (n_triangles, n_wedges, global_cc) — the global
    clustering coefficient 3·T/W of the undirected graph, the classic
    transitivity statistic of the webgraph-analysis toolbox.

    W counts ordered-pair wedges per center as C(deg, 2) from the
    undirected degree table (one map-side-combinable agg — no wedge
    enumeration); T reuses the degree-oriented triangle join, so the
    whole statistic costs one triangle count plus one degree scan.
    """
    # self-loops excluded from the wedge degrees — the triangle join's
    # src<dst orientation already drops them, and counting them in W
    # would deflate the coefficient on real graphs (cnr-2000 has them).
    # The degree table and the oriented edge set are shared with the
    # triangle join through one materialized build — W and T cost one
    # symmetrize pass between them instead of two.
    e, deg = _orient_and_degrees(edges)
    # d·(d−1) is even, so DIV 2 is exact; the whole count stays in int64
    # (a float sum would lose exactness past 2^53 wedges — reachable at
    # web scale: one 1e7-degree hub alone contributes 5e13)
    wedges = deg.agg(
        F.coalesce(
            F.sum(F.expr("d * (d - 1) DIV 2")), F.lit(0).cast("long")
        ).alias("n_wedges")
    )
    tri = _triangle_join(e).agg(F.count("*").alias("n_triangles"))
    return tri.crossJoin(wedges).select(
        "n_triangles",
        "n_wedges",
        F.round(
            F.when(F.col("n_wedges") > 0,
                   3.0 * F.col("n_triangles") / F.col("n_wedges"))
            .otherwise(F.lit(0.0)),
            round_dp,
        ).alias("global_cc"),
    )
