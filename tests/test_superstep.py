"""Plan shape and session hygiene of the iterative kernels: the
PageRank-family superstep (operators/superstep.py, pagerank.py, hits.py),
HyperBall and the exact balls (neighborhood.py, bfs.py), label
propagation (labelprop.py), components (components.py) and the peel and
frontier kernels built on them (kcore.py, scc.py, sampling.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import seeded_random_graph
from webgraph_ans_rs_spark.operators import neighborhood as nb
from webgraph_ans_rs_spark.operators.bfs import bfs_distances
from webgraph_ans_rs_spark.operators.components import connected_components
from webgraph_ans_rs_spark.operators.hits import hits, hits_halfstep_probe
from webgraph_ans_rs_spark.operators.kcore import kcore
from webgraph_ans_rs_spark.operators.labelprop import (
    _argmax_labels,
    label_propagation,
    label_propagation_converged,
)
from webgraph_ans_rs_spark.operators.pagerank import (
    pagerank,
    pagerank_weighted,
    personalized_pagerank,
    personalized_pagerank_converged,
    ppr_superstep_probe,
    superstep_probe,
)
from webgraph_ans_rs_spark.operators.sampling import khop_neighbors
from webgraph_ans_rs_spark.operators.scc import strongly_connected_components
from webgraph_ans_rs_spark.operators.superstep import COALESCE, conf_scope
from webgraph_ans_rs_spark.plans.derived_graph import undirected_symmetrize

AQE = "spark.sql.adaptive.enabled"


def _count_nodes(jplan, name: str) -> int:
    total = 1 if name in jplan.nodeName() else 0
    kids = jplan.children()
    for i in range(kids.length()):
        total += _count_nodes(kids.apply(i), name)
    return total


def _probe(kind, edges, verts, caches):
    if kind == "pagerank":
        return superstep_probe(edges, verts, release_caches=caches)
    if kind == "ppr":
        seeds = verts.limit(5).select("vertex")
        return ppr_superstep_probe(edges, verts, seeds, release_caches=caches)
    return hits_halfstep_probe(edges, verts, release_caches=caches)


@pytest.mark.parametrize(
    "kind, want",
    [("pagerank", (1, 0, 1)), ("ppr", (1, 0, 2)), ("hits", (1, 0, 1))],
)
def test_superstep_plan_shape(spark, kind, want):
    """One superstep (HITS: one half-step) plans exactly ONE exchange — the
    E-sized gather — no sorts, and shuffle-hash joins over co-partitioned
    sides: (Exchange, Sort, ShuffledHashJoin) counts of the executed plan
    with AQE off, so the static tree is walkable."""
    edges, verts, _, _ = seeded_random_graph(spark)
    caches: list = []
    try:
        with conf_scope(spark, AQE, "false"):
            jplan = _probe(kind, edges, verts, caches)._jdf.queryExecution().executedPlan()
            got = tuple(
                _count_nodes(jplan, name)
                for name in ("Exchange", "Sort", "ShuffledHashJoin")
            )
    finally:
        for c in caches:
            c.unpersist(blocking=True)
    assert got == want


def _plan_string(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lp_argmax_is_partial_min_by_without_window(spark):
    """The label argmax is an aggregation with a map-side partial min_by,
    not a per-vertex window sort: a hub's neighbour-label histogram
    collapses per task before the shuffle."""
    edges, verts, _, _ = seeded_random_graph(spark)
    und = undirected_symmetrize(edges)
    labels = verts.select("vertex", F.col("vertex").alias("label"))
    hist = (
        und.join(labels.withColumnRenamed("vertex", "nv"), und["dst"] == F.col("nv"))
        .groupBy(und["src"].alias("vertex"), F.col("label").alias("nbr_label"))
        .agg(F.count("*").alias("cnt"))
    )
    plan = _plan_string(_argmax_labels(hist))
    assert "partial_min_by" in plan and "Window" not in plan


def test_hyperball_superstep_is_partial_max_without_python(spark):
    """The column-layout register merge is a map-side partial max: no
    Python evaluation and no window in the superstep."""
    edges, verts, _, _ = seeded_random_graph(spark)
    cols = [f"r{j}" for j in range(64)]
    regs = nb._init_regs(verts, 6, cols, eager=False)
    plan = _plan_string(nb._superstep_plan(edges, regs, cols))
    assert "partial_max" in plan
    assert "BatchEvalPython" not in plan and "Window" not in plan


def _steady_superstep(spark, layout):
    """The second superstep of one HyperBall layout over its cached gather
    side, with the first superstep's output checkpointed as its input."""
    edges, verts, _, _ = seeded_random_graph(spark)
    p_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if layout == "column":
        cols = [f"r{j}" for j in range(16)]
        side = edges.select("src", "dst").repartition(p_shuffle, "dst").persist()
        regs = nb._init_regs(verts, 4, cols)
        step = lambda r: nb._superstep_plan(side, r, cols)  # noqa: E731
    else:
        side = nb.build_transposed_csr(edges, verts, p_shuffle).persist()
        regs = nb._init_regs_packed(verts, 4, num_partitions=p_shuffle)
        step = lambda r: nb._superstep_packed_plan(side, r, 16)  # noqa: E731
    return side, step(step(regs).localCheckpoint(eager=True))


@pytest.mark.parametrize("layout, want", [("column", (1, 0)), ("packed", (2, 0))])
def test_hyperball_superstep_exchange_count(spark, layout, want):
    """(Exchange, Sort) counts of one steady-state HyperBall superstep with
    AQE off. Both gather sides are cached hash-partitioned by their join
    key and both joins are shuffle-hash joins, so neither sorts. Column
    layout: the registers come out of the previous groupBy partitioned by
    vertex, so the join is exchange-free and the one exchange is the
    regroup by vertex. Packed layout: the mapInArrow fold's output does
    not carry its input's partitioning, so the V-sized registers are
    exchanged into the join as well as regrouped — two."""
    side = None
    try:
        with conf_scope(spark, AQE, "false"):
            side, df = _steady_superstep(spark, layout)
            jplan = df._jdf.queryExecution().executedPlan()
            got = tuple(_count_nodes(jplan, name) for name in ("Exchange", "Sort"))
    finally:
        if side is not None:
            side.unpersist(blocking=True)
    assert got == want


def _cached_rdds(spark) -> int:
    """Persistent RDDs that are caches. Local checkpoints also register as
    persistent RDDs, but they are the lineage barriers of returned frames,
    released by the context cleaner once those frames are dropped."""
    rdds = spark._jsc.getPersistentRDDs()
    return sum(1 for k in rdds.keySet() if not rdds[k].rdd().isLocallyCheckpointed())


def _run_probe(kind, edges, verts):
    caches: list = []
    _probe(kind, edges, verts, caches)
    for c in caches:
        c.unpersist(blocking=True)


def _ppr_unconverged(edges, verts, seeds):
    with pytest.raises(RuntimeError, match="max_iter=2"):
        personalized_pagerank_converged(
            edges, verts, seeds, damping=0.85, max_iter=2, tol=1e-15
        )


def _lp_unconverged(e, v, s):
    """The 2-cycle: a single edge flips both labels in its first superstep,
    so one superstep is too few to see a stable one."""
    spark = e.sparkSession
    pe = spark.createDataFrame([(5, 6)], "src long, dst long")
    pv = spark.createDataFrame([(5,), (6,)], "vertex long")
    with pytest.raises(RuntimeError, match="did not stabilize"):
        label_propagation_converged(pe, pv, max_iter=1)


CASES = {
    "pagerank_fixed": lambda e, v, s: pagerank(e, v, max_iter=3, tol=None).ranks,
    "pagerank_tol": lambda e, v, s: pagerank(e, v, max_iter=30, tol=1e-4).ranks,
    "pagerank_dense": lambda e, v, s: pagerank(
        e, v, max_iter=3, tol=None, dense_relabel=True
    ).ranks,
    "ppr": lambda e, v, s: personalized_pagerank(e, v, s, num_iter=3),
    "ppr_converged": lambda e, v, s: personalized_pagerank_converged(e, v, s)[0],
    "ppr_unconverged": _ppr_unconverged,
    "pagerank_weighted": lambda e, v, s: pagerank_weighted(
        e.withColumn("wt", F.lit(2)), v, num_iter=3
    ).ranks,
    "hits": lambda e, v, s: hits(e, v, 3),
    "superstep_probe": lambda e, v, s: _run_probe("pagerank", e, v),
    "ppr_superstep_probe": lambda e, v, s: _run_probe("ppr", e, v),
    "hits_halfstep_probe": lambda e, v, s: _run_probe("hits", e, v),
    "hyperball": lambda e, v, s: nb.hyperball(e, v, 3, p=4),
    "hyperball_packed": lambda e, v, s: nb.hyperball_packed(e, v, 3, p=4),
    "harmonic_centrality": lambda e, v, s: nb.harmonic_centrality(e, v, 3, p=4),
    "harmonic_centrality_packed": lambda e, v, s: nb.harmonic_centrality_packed(
        e, v, 3, p=4
    ),
    "effective_diameter": lambda e, v, s: nb.effective_diameter(e, v, 3, p=4),
    "neighborhood_function_exact": lambda e, v, s: nb.neighborhood_function_exact(
        e, v, 3
    ),
    "harmonic_centrality_exact": lambda e, v, s: nb.harmonic_centrality_exact(
        e, v, 3
    ),
    "bfs_distances": lambda e, v, s: bfs_distances(e, s, 3),
    "label_propagation": lambda e, v, s: label_propagation(e, v, num_iter=3),
    "label_propagation_converged": lambda e, v, s: label_propagation_converged(
        e, v
    )[0],
    "label_propagation_unconverged": _lp_unconverged,
    "connected_components": lambda e, v, s: connected_components(e, v),
    "kcore": lambda e, v, s: kcore(e, k=2),
    "strongly_connected_components": lambda e, v, s: strongly_connected_components(
        e, v
    ),
    "khop_neighbors": lambda e, v, s: khop_neighbors(
        e, s.select(F.col("vertex").alias("seed")), k=2, pct=100
    ),
}


@pytest.mark.parametrize("prior", ["true", "false"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_kernel_releases_caches_and_restores_conf(spark, tiny_graph, case, prior):
    """Every kernel and probe leaves no cache behind and leaves the AQE
    coalescing flag as it found it — also when it raises."""
    edges, verts = tiny_graph
    seeds = verts.where(F.col("vertex").isin(0, 3))
    with conf_scope(spark, COALESCE, prior):
        start = _cached_rdds(spark)
        out = CASES[case](edges, verts, seeds)
        if out is not None:
            out.collect()
        assert _cached_rdds(spark) == start
        assert spark.conf.get(COALESCE) == prior
