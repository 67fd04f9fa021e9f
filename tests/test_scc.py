"""Strongly connected components: trim + coloring + backward sweep.

The driver gate re-proves it against a DuckDB closure oracle
(`scc` query); these tests pin the operator contracts on hand graphs
and against a pure-Python Tarjan oracle on the seeded graph.
"""

from __future__ import annotations

import pytest

from webgraph_ans_rs_spark.operators.scc import strongly_connected_components

from tests.conftest import seeded_random_graph


def _got(edges, verts):
    return {
        r.vertex: r.scc_id
        for r in strongly_connected_components(edges, verts).collect()
    }


def test_scc_hand_fixture(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3), (5, 6), (6, 7), (7, 3),
         (8, 8), (2, 3)],
        "src long, dst long",
    )
    verts = spark.createDataFrame([(i,) for i in range(10)], "vertex long")
    assert _got(edges, verts) == {
        0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6, 7: 7, 8: 8, 9: 9
    }


def test_scc_nested_cycles_sharing_vertex(spark):
    # two cycles sharing vertex 2 form ONE scc {0,1,2,3,4}
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(5)], "vertex long")
    assert _got(edges, verts) == {v: 0 for v in range(5)}


def _tarjan(n, es):
    """Iterative Tarjan — independent oracle."""
    adj = {v: [] for v in range(n)}
    for a, b in es:
        adj[a].append(b)
    index = {}
    low = {}
    on = set()
    stack = []
    out = {}
    counter = [0]

    def strong(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on.add(v)
            advanced = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    advanced = True
                    break
                elif w in on:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    out[w] = m
            work.pop()
            if work:
                pv, _ = work[-1]
                low[pv] = min(low[pv], low[v])

    for v in range(n):
        if v not in index:
            strong(v)
    return out


def _tendril_graph(spark):
    """A 41-vertex chain 0→…→40 into the 10-cycle 50..59, a chain
    59→60→…→80 out of it, isolated 41..49, and 600 random arcs among
    100..299: a deep trim cascade, vertices whose in- and out-degree
    both reach 0, and isolated vertices."""
    import random

    n = 300
    es = [(i, i + 1) for i in range(40)] + [(40, 50)]
    es += [(50 + i, 50 + (i + 1) % 10) for i in range(10)]
    es += [(i, i + 1) for i in range(59, 80)]
    rng = random.Random(7)
    for _ in range(600):
        a, b = rng.randrange(100, 300), rng.randrange(100, 300)
        if a != b:
            es.append((a, b))
    es = sorted(set(es))
    edges = spark.createDataFrame(es, "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "vertex long")
    return edges, verts, es, n


@pytest.mark.parametrize("graph", [seeded_random_graph, _tendril_graph],
                         ids=["seeded", "tendril"])
def test_scc_matches_tarjan_on_seeded_graph(spark, graph):
    edges, verts, es, n = graph(spark)
    assert _got(edges, verts) == _tarjan(n, es)


def test_scc_giant_component_plus_singleton_mass(spark):
    """The web-shaped skew fixture the round-3 verdict asked for: ONE giant
    SCC (hub-and-spoke, diameter 2 — 0→i and i→0, so all of 0..G-1 are
    mutually reachable through the hub) holding the majority of non-trivial
    vertices, plus a large singleton mass. The giant root's finalization
    must go through the broadcast path (plan_audit check 18 pins the
    shape); this pins the VALUES."""
    G, S = 1500, 4000
    hub_edges = [(0, i) for i in range(1, G)] + [(i, 0) for i in range(1, G)]
    edges = spark.createDataFrame(hub_edges, "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(G + S)], "vertex long")
    got = _got(edges, verts)
    assert all(got[v] == 0 for v in range(G))
    assert all(got[v] == v for v in range(G, G + S))


def test_finalize_assignments_broadcasts_giants(spark):
    """finalize_assignments resolves every root when #roots exceeds the
    broadcast top-K (the remainder path) and is exact on ties."""
    from webgraph_ans_rs_spark.operators.scc import finalize_assignments

    # 200 roots (> GIANT_ROOTS_TOP_K=64), sizes 1..; root r holds vertices
    # {r*1000 .. r*1000+r} with root label = max member (coloring emits max)
    rows = [
        (r * 1000 + j, r * 1000 + r) for r in range(200) for j in range(r % 5 + 1)
    ]
    assigned = spark.createDataFrame(rows, "vertex long, root long")
    got = {r.vertex: r.scc_id for r in finalize_assignments(assigned).collect()}
    want = {v: (root - root % 1000) for v, root in rows}
    assert got == want
