from __future__ import annotations

import itertools

from tests.conftest import seeded_random_graph
from webgraph_ans_rs_spark.operators.components import connected_components
from webgraph_ans_rs_spark.operators.labelprop import label_propagation
from webgraph_ans_rs_spark.operators.triangles import (
    orient_by_degree,
    triangle_count,
    triangle_list,
    triangles_per_vertex,
)


def unionfind_components(es, n):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in es:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id labeling
    comp = {}
    for v in range(n):
        r = find(v)
        comp.setdefault(r, []).append(v)
    out = {}
    for members in comp.values():
        m = min(members)
        for v in members:
            out[v] = m
    return out


def python_lp(es, n, iters):
    """Synchronous LP oracle: argmax neighbor-label count, ties→smallest."""
    nbrs = {v: set() for v in range(n)}
    for a, b in es:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    labels = {v: v for v in range(n)}
    for _ in range(iters):
        new = {}
        for v in range(n):
            if not nbrs[v]:
                new[v] = labels[v]
                continue
            cnt = {}
            for u in nbrs[v]:
                cnt[labels[u]] = cnt.get(labels[u], 0) + 1
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        labels = new
    return labels


def brute_triangles(es, n):
    und = set()
    for a, b in es:
        if a != b:
            und.add((min(a, b), max(a, b)))
    tri = [
        (a, b, c)
        for a, b, c in itertools.combinations(range(n), 3)
        if (a, b) in und and (b, c) in und and (a, c) in und
    ]
    return tri


def test_cc_tiny(tiny_graph):
    edges, verts = tiny_graph
    got = {r.vertex: r.component for r in connected_components(edges, verts).collect()}
    # components: {0,2,3,4} -> 0, {1,5} -> 1
    assert got == {0: 0, 2: 0, 3: 0, 4: 0, 1: 1, 5: 1}


def test_cc_random_matches_unionfind(spark):
    edges, verts, es, n = seeded_random_graph(spark, n=150, m=160)
    got = {r.vertex: r.component for r in connected_components(edges, verts).collect()}
    assert got == unionfind_components(es, n)


def test_cc_long_path(spark):
    """Path graph stresses pointer jumping (diameter >> rounds)."""
    n = 64
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "vertex long")
    got = {r.vertex: r.component for r in connected_components(edges, verts, max_rounds=20).collect()}
    assert got == {v: 0 for v in range(n)}


def test_cc_star_vs_pointer_jump_on_skewed_graph(spark):
    """One giant component (a hub star swallowing 90% of vertices) plus
    small clusters — the shape where a label-keyed join funnels everything
    through one shuffle key. Star CC must agree exactly with union-find."""
    n = 500
    es = (
        [(0, i) for i in range(1, 450)]          # giant star
        + [(i, i + 1) for i in range(100, 448)]  # chords inside the giant comp
        + [(450 + i, 450 + (i * 3 + 1) % 25) for i in range(25)]  # cluster
    )
    edges = spark.createDataFrame(es, "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "vertex long")
    star = {r.vertex: r.component for r in connected_components(edges, verts).collect()}
    assert star == unionfind_components(es, n)


def test_cc_star_round_count_on_path(spark):
    """Star contraction is O(log^2 n)-ish: a 128-path must converge well
    under the diameter (128) rounds — checked via max_rounds headroom."""
    n = 128
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "vertex long")
    got = {
        r.vertex: r.component
        for r in connected_components(edges, verts, max_rounds=15).collect()
    }
    assert got == {v: 0 for v in range(n)}


def test_lp_matches_python(spark):
    edges, verts, es, n = seeded_random_graph(spark, n=100, m=300)
    for iters in (1, 3):
        got = {r.vertex: r.label for r in label_propagation(edges, verts, num_iter=iters).collect()}
        assert got == python_lp(es, n, iters)


def test_triangles_fixture(triangle_graph):
    edges, verts = triangle_graph
    assert triangle_count(edges).first().n_triangles == 2
    got = {r.vertex: r.n_tri for r in triangles_per_vertex(edges, verts).collect()}
    assert got == {0: 1, 1: 2, 2: 2, 3: 1}


def test_triangles_random_matches_brute(spark):
    """Both orientations enumerate the same triangle vertex-sets; the
    degree-oriented default names triples in (degree, id) order, so
    canonicalize before comparing."""
    edges, verts, es, n = seeded_random_graph(spark, n=60, m=300)
    want = sorted(brute_triangles(es, n))
    got_deg = sorted(tuple(sorted(r)) for r in triangle_list(edges).collect())
    got_id = sorted(tuple(r) for r in triangle_list(edges, orientation="id").collect())
    assert got_deg == want
    assert got_id == want


def test_degree_orientation_acyclic_and_hub_safe(spark):
    """orient_by_degree must be an acyclic orientation (each undirected
    edge exactly once) and must leave hubs with near-zero forward degree
    on a star-skewed graph — the property that bounds the first join."""
    from pyspark.sql import functions as F

    hub_edges = [(0, i) for i in range(1, 200)] + [(i, i + 1) for i in range(1, 30)]
    edges = spark.createDataFrame(hub_edges, "src long, dst long")
    e = orient_by_degree(edges)
    rows = e.collect()
    # each undirected edge appears exactly once, in exactly one direction
    seen = {(min(r.a, r.b), max(r.a, r.b)) for r in rows}
    assert len(rows) == len(seen) == len(set((min(a, b), max(a, b)) for a, b in hub_edges))
    # the hub (vertex 0, degree 199) keeps no forward neighbors: every
    # other vertex has smaller degree, so all its edges point at it
    fwd = e.groupBy("a").agg(F.count("*").alias("d")).where(F.col("a") == 0).collect()
    assert fwd == []
