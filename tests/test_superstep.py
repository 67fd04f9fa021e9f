"""Plan shape and session hygiene of the PageRank-family superstep kernel
(operators/superstep.py, operators/pagerank.py, operators/hits.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import seeded_random_graph
from webgraph_ans_rs_spark.operators.hits import hits, hits_halfstep_probe
from webgraph_ans_rs_spark.operators.pagerank import (
    pagerank,
    pagerank_weighted,
    personalized_pagerank,
    personalized_pagerank_converged,
    ppr_superstep_probe,
    superstep_probe,
)

COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


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
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    caches: list = []
    try:
        jplan = _probe(kind, edges, verts, caches)._jdf.queryExecution().executedPlan()
        got = tuple(
            _count_nodes(jplan, name)
            for name in ("Exchange", "Sort", "ShuffledHashJoin")
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
        for c in caches:
            c.unpersist(blocking=True)
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
}


@pytest.mark.parametrize("prior", ["true", "false"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_kernel_releases_caches_and_restores_conf(spark, tiny_graph, case, prior):
    """Every kernel and probe leaves no cache behind and restores the AQE
    coalescing flag it suspends — also when it raises."""
    edges, verts = tiny_graph
    seeds = verts.where(F.col("vertex").isin(0, 3))
    prev = spark.conf.get(COALESCE, None)
    spark.conf.set(COALESCE, prior)
    try:
        start = _cached_rdds(spark)
        out = CASES[case](edges, verts, seeds)
        if out is not None:
            out.collect()
        assert _cached_rdds(spark) == start
        assert spark.conf.get(COALESCE) == prior
    finally:
        if prev is None:
            spark.conf.unset(COALESCE)
        else:
            spark.conf.set(COALESCE, prev)
