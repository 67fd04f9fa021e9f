"""BVGraph codec + golden-graph (cnr-2000) ingest.

The reference ships a REAL web graph (cnr-2000, BVGraph v0, 2.897
bits/link) in its test corpus; decoding it converts every
synthetic-fixture storage/locality claim into a golden-graph claim. The
decoder is validated two independent ways: (a) bit-level and whole-graph
round trips through the matching encoder, (b) decoding the artifact
WebGraph itself encoded and hitting the published node/arc counts
exactly.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from webgraph_ans_rs_spark.sources.bvgraph import (
    BitReader,
    BitWriter,
    BVGraphProperties,
    decode_bvgraph,
    encode_bvgraph,
    ensure_cnr2000,
    int2nat,
    load_properties,
    nat2int,
)

CNR_PROPS = "/root/reference/tests/data/cnr-2000/cnr-2000.properties"
requires_cnr2000 = pytest.mark.skipif(
    not os.path.exists(CNR_PROPS), reason="cnr-2000 BVGraph files not present"
)


def test_code_roundtrips():
    vals = [0, 1, 2, 3, 7, 8, 127, 128, 12345, 2**20, 2**31, 2**40]
    bw = BitWriter()
    for v in vals:
        bw.write_gamma(v)
    for k in (2, 3, 4):
        for v in vals:
            bw.write_zeta(v, k)
    for v in [0, 1, 5, 40, 100]:
        bw.write_unary(v)
    br = BitReader(bw.getvalue())
    assert [br.read_gamma() for _ in vals] == vals
    for k in (2, 3, 4):
        assert [br.read_zeta(k) for _ in vals] == vals
    assert [br.read_unary() for _ in range(5)] == [0, 1, 5, 40, 100]


def test_nat2int_zigzag():
    for v in range(-50, 50):
        assert nat2int(int2nat(v)) == v


def _random_weblike_lists(n: int, seed: int) -> list[list[int]]:
    rng = random.Random(seed)
    lists: list[list[int]] = []
    for x in range(n):
        d = rng.randrange(0, 20)
        s: set[int] = set()
        if x > 0 and rng.random() < 0.5 and lists[x - 1]:
            s.update(
                rng.sample(
                    lists[x - 1], min(len(lists[x - 1]), rng.randrange(0, 8))
                )
            )
        start = max(0, x - 5)
        s.update(range(start, min(start + rng.randrange(0, 8), n)))
        while len(s) < d:
            s.add(max(0, min(n - 1, x + rng.randrange(-50, 50))))
        lists.append(sorted(s))
    return lists


@pytest.mark.parametrize("seed", [7, 11, 13])
def test_graph_roundtrip_weblike(seed):
    lists = _random_weblike_lists(400, seed)
    props = BVGraphProperties(
        nodes=400,
        arcs=sum(map(len, lists)),
        window_size=7,
        min_interval_length=4,
        zeta_k=3,
    )
    assert decode_bvgraph(encode_bvgraph(lists), props) == lists


def test_graph_roundtrip_no_window_no_intervals():
    lists = _random_weblike_lists(200, 5)
    props = BVGraphProperties(
        nodes=200, arcs=sum(map(len, lists)), window_size=0,
        min_interval_length=0, zeta_k=3,
    )
    data = encode_bvgraph(lists, window_size=0, min_interval_length=0)
    assert decode_bvgraph(data, props) == lists


@requires_cnr2000
def test_cnr2000_counts_match_properties():
    """Decode the artifact WebGraph encoded; node/arc counts must equal
    the published .properties exactly (ensure_cnr2000 raises otherwise —
    this also materializes the shared parquet cache)."""
    props = load_properties(CNR_PROPS)
    path, meta = ensure_cnr2000()
    assert meta["nodes"] == props.nodes == 325557
    assert meta["arcs"] == props.arcs == 3216152


@requires_cnr2000
def test_cnr2000_edge_table_in_spark(spark):
    path, meta = ensure_cnr2000()
    edges = spark.read.parquet(path)
    n_arcs, max_v, min_v = edges.agg(
        F.count("*"), F.greatest(F.max("src"), F.max("dst")), F.least(F.min("src"), F.min("dst"))
    ).first()
    assert n_arcs == meta["arcs"]
    assert 0 <= min_v and max_v < meta["nodes"]


def _induced_subgraph_lists(limit: int) -> list[list[int]]:
    import pyarrow.parquet as pq

    path, _ = ensure_cnr2000()
    t = pq.read_table(path).to_pandas()
    sub = t[(t.src < limit) & (t.dst < limit)]
    lists = [[] for _ in range(limit)]
    for s, d in zip(sub.src.values, sub.dst.values):
        lists[s].append(int(d))
    return [sorted(x) for x in lists]


@requires_cnr2000
def test_cnr2000_scc_matches_tarjan_on_induced_subgraph(spark):
    """SCC on the induced subgraph of the first 2000 REAL cnr-2000 nodes
    vs the pure-Python Tarjan oracle."""
    from tests.test_scc import _tarjan
    from webgraph_ans_rs_spark.operators.scc import strongly_connected_components

    limit = 2000
    lists = _induced_subgraph_lists(limit)
    es = [(x, y) for x, succ in enumerate(lists) for y in succ]
    edges = spark.createDataFrame(es, "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(limit)], "vertex long")
    got = {
        r.vertex: r.scc_id
        for r in strongly_connected_components(edges, verts).collect()
    }
    assert got == _tarjan(limit, es)


def _tarjan_sizes(lists):
    n = len(lists)
    index = [0] * n
    low = [0] * n
    seen = [False] * n
    on = [False] * n
    stack: list[int] = []
    sizes: list[int] = []
    counter = 1
    for v0 in range(n):
        if seen[v0]:
            continue
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                seen[v] = True
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on[v] = True
            advanced = False
            adj = lists[v]
            for i in range(pi, len(adj)):
                w = adj[i]
                if not seen[w]:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    advanced = True
                    break
                elif on[w] and index[w] < low[v]:
                    low[v] = index[w]
            if advanced:
                continue
            if low[v] == index[v]:
                size = 0
                while True:
                    w = stack.pop()
                    on[w] = False
                    size += 1
                    if w == v:
                        break
                sizes.append(size)
            work.pop()
            if work:
                pv, _ = work[-1]
                if low[v] < low[pv]:
                    low[pv] = low[v]
    return sorted(sizes, reverse=True)


@pytest.mark.skipif(
    __import__("os").environ.get("SPARK_GRAFT_SLOW") != "1",
    reason="~6 min full-graph SCC; run with SPARK_GRAFT_SLOW=1",
)
def test_cnr2000_full_scc_matches_tarjan(spark):
    """The de-skewed SCC on the COMPLETE real web graph vs pure-Python
    Tarjan: component count and full size distribution must agree
    (measured: 100,977 components, giant SCC 112,023 — BASELINE.md)."""
    from webgraph_ans_rs_spark.operators.scc import strongly_connected_components

    props = load_properties(CNR_PROPS)
    with open(CNR_PROPS.replace(".properties", ".graph"), "rb") as f:
        lists = decode_bvgraph(f.read(), props)
    want_sizes = _tarjan_sizes(lists)
    path, meta = ensure_cnr2000()
    edges = spark.read.parquet(path)
    verts = spark.range(0, meta["nodes"]).selectExpr("id AS vertex")
    scc = strongly_connected_components(edges, verts, max_rounds=64)
    got_sizes = sorted(
        (r["count"] for r in scc.groupBy("scc_id").count().collect()),
        reverse=True,
    )
    assert got_sizes == want_sizes


@requires_cnr2000
def test_cnr2000_hyperball_tracks_exact_on_induced_subgraph(spark):
    """HyperBall (packed, p=10) on a real web subgraph vs exact NF."""
    from webgraph_ans_rs_spark.operators.neighborhood import (
        hyperball_packed,
        neighborhood_function_exact,
    )

    limit = 1500
    lists = _induced_subgraph_lists(limit)
    es = [(x, y) for x, succ in enumerate(lists) for y in succ]
    edges = spark.createDataFrame(es, "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(limit)], "vertex long")
    ex = {r.t: r.nf for r in neighborhood_function_exact(edges, verts, 3).collect()}
    hb = {r.t: r.nf_est for r in hyperball_packed(edges, verts, 3, p=10).collect()}
    for t in ex:
        assert abs(hb[t] - ex[t]) / ex[t] < 0.10, (t, ex[t], hb[t])


def test_parquet_to_bvgraph_export_roundtrip(tmp_path):
    """EGRESS: edge parquet -> .graph/.properties -> decode must return
    the exact graph (full format interop: the engine both ingests and
    emits the reference's native artifact)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from webgraph_ans_rs_spark.sources.bvgraph import (
        decode_bvgraph,
        load_properties,
        parquet_to_bvgraph,
    )

    rng = np.random.RandomState(7)
    n = 200
    src = rng.randint(0, n, 1500)
    dst = rng.randint(0, n, 1500)
    pairs = sorted(set(zip(src.tolist(), dst.tolist())))
    edge_path = str(tmp_path / "edges.parquet")
    pq.write_table(
        pa.table(
            {
                "src": np.array([p[0] for p in pairs], dtype=np.int64),
                "dst": np.array([p[1] for p in pairs], dtype=np.int64),
            }
        ),
        edge_path,
    )
    base = str(tmp_path / "exported")
    meta = parquet_to_bvgraph(edge_path, base, num_nodes=n)
    assert meta["nodes"] == n and meta["arcs"] == len(pairs)
    props = load_properties(base + ".properties")
    assert (props.nodes, props.window_size, props.zeta_k) == (n, 7, 3)
    with open(base + ".graph", "rb") as f:
        lists = decode_bvgraph(f.read(), props)
    got = [(s, d) for s, row in enumerate(lists) for d in row]
    assert got == pairs
