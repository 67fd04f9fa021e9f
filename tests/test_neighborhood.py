"""Neighbourhood function: exact BFS-ball counting vs HyperBall (HLL).

HyperBall is the WebGraph companion algorithm (Boldi–Vigna) over exactly
the successor lists the reference compresses. The driver gate hash-checks
both against DuckDB (the estimates are deterministic); these tests pin
the operator-level contracts: exact NF on hand graphs, HLL accuracy
bounds, and monotonicity.
"""

from __future__ import annotations

from webgraph_ans_rs_spark.operators.neighborhood import (
    hyperball,
    neighborhood_function_exact,
)

from tests.conftest import seeded_random_graph


def _nf(df, col="nf"):
    return {r.t: r[col] for r in df.collect()}


def test_exact_nf_on_chain(spark):
    # 0→1→2→3: balls grow one hop per t until the end of the chain
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(4)], "vertex long")
    got = _nf(neighborhood_function_exact(edges, verts, 3))
    assert got == {0: 4, 1: 7, 2: 9, 3: 10}


def test_exact_nf_on_cycle_saturates(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(3)], "vertex long")
    got = _nf(neighborhood_function_exact(edges, verts, 4))
    assert got == {0: 3, 1: 6, 2: 9, 3: 9, 4: 9}


def test_hyperball_tracks_exact_within_hll_error(spark):
    """p=6 → 64 registers; in the small-ball (linear counting) regime the
    estimate should sit well inside the asymptotic 1.04/√m ≈ 13%; the
    chain fixture measured ≤4%, assert a 10% ceiling for headroom."""
    edges = spark.createDataFrame(
        [(g * 20 + i, g * 20 + i + 1) for g in range(25) for i in range(19)],
        "src long, dst long",
    )
    verts = spark.range(0, 500).selectExpr("id as vertex")
    ex = _nf(neighborhood_function_exact(edges, verts, 4))
    hb = _nf(hyperball(edges, verts, 4, p=6), col="nf_est")
    for t in ex:
        assert abs(hb[t] - ex[t]) / ex[t] < 0.10, (t, ex[t], hb[t])


def test_hyperball_seeded_graph(spark):
    edges, verts, _, _ = seeded_random_graph(spark)
    ex = _nf(neighborhood_function_exact(edges, verts, 3))
    hb = _nf(hyperball(edges, verts, 3, p=6), col="nf_est")
    for t in ex:
        assert abs(hb[t] - ex[t]) / ex[t] < 0.15, (t, ex[t], hb[t])
    # NOTE: nf_est is NOT monotone in t even though registers only grow —
    # the estimate is discontinuous at the linear-counting→raw regime
    # switch (a vertex's last zero register filling can DROP its estimate
    # from m·ln(m) to alpha·m²/harm), so no monotonicity assertion here.


def test_hyperball_packed_identical_to_columns(spark):
    """Array-packed registers must produce BIT-IDENTICAL estimates to the
    column layout at equal p (same hash, same registers, same fold order)
    — the property that lets the packed gate query reuse the hyperball
    oracle."""
    from webgraph_ans_rs_spark.operators.neighborhood import hyperball_packed

    edges, verts, _, _ = seeded_random_graph(spark)
    col = _nf(hyperball(edges, verts, 3, p=6), col="nf_est")
    packed = _nf(hyperball_packed(edges, verts, 3, p=6), col="nf_est")
    assert col == packed


def test_hyperball_packed_p10_tightens_accuracy(spark):
    """The packed layout's whole point: p=10 (1024 registers — impossible
    as columns) must track exact NF inside the tighter HLL envelope
    (1.04/√1024 ≈ 3.3% asymptotic std; assert 3σ ≈ 10%, and strictly
    better than the p=6 run's worst error on the same graph)."""
    from webgraph_ans_rs_spark.operators.neighborhood import hyperball_packed

    edges, verts, _, _ = seeded_random_graph(spark)
    ex = _nf(neighborhood_function_exact(edges, verts, 3))
    p10 = _nf(hyperball_packed(edges, verts, 3, p=10), col="nf_est")
    p6 = _nf(hyperball(edges, verts, 3, p=6), col="nf_est")
    worst10 = max(abs(p10[t] - ex[t]) / ex[t] for t in ex)
    worst6 = max(abs(p6[t] - ex[t]) / ex[t] for t in ex)
    assert worst10 < 0.10, (worst10, p10, ex)
    assert worst10 <= worst6, (worst10, worst6)


def test_harmonic_centrality_packed_identical_to_columns(spark):
    from webgraph_ans_rs_spark.operators.neighborhood import (
        harmonic_centrality,
        harmonic_centrality_packed,
    )

    edges, verts, _, _ = seeded_random_graph(spark, n=120, m=500)
    col = {r.vertex: r.hc for r in harmonic_centrality(edges, verts, 3, p=6).collect()}
    packed = {
        r.vertex: r.hc
        for r in harmonic_centrality_packed(edges, verts, 3, p=6).collect()
    }
    assert col == packed


def test_harmonic_centrality_tracks_exact_on_chain(spark):
    """On 0→1→2→3 the exact truncated harmonic centrality is
    hc(0)=1+1/2+1/3, hc(1)=1+1/2, hc(2)=1, hc(3)=0 — the HLL estimate at
    p=6 with singleton/tiny balls sits in the linear-counting regime and
    must land within 12% (and exactly 0 for the sink)."""
    from webgraph_ans_rs_spark.operators.neighborhood import harmonic_centrality

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(4)], "vertex long")
    got = {r.vertex: r.hc for r in harmonic_centrality(edges, verts, 3).collect()}
    exact = {0: 1 + 0.5 + 1 / 3, 1: 1.5, 2: 1.0, 3: 0.0}
    assert got[3] == 0.0
    for v in (0, 1, 2):
        assert abs(got[v] - exact[v]) / exact[v] < 0.12, (v, exact[v], got[v])


def test_bfs_distances_chain_and_multisource(spark):
    from webgraph_ans_rs_spark.operators.bfs import bfs_distances

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 2)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,), (10,)], "vertex long")
    got = {r.vertex: r.dist for r in bfs_distances(edges, seeds, 3).collect()}
    # 2 is reached at dist 1 via 10 (not 2 via 0); 3 at 2; unreachable 4 absent
    assert got == {0: 0, 10: 0, 1: 1, 2: 1, 3: 2}


def test_bfs_distances_depth_budget(spark):
    from webgraph_ans_rs_spark.operators.bfs import bfs_distances

    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "vertex long")
    got = {r.vertex: r.dist for r in bfs_distances(edges, seeds, 1).collect()}
    assert got == {0: 0, 1: 1}  # 2 is beyond the budget


def test_hyperball_full_range_hashed_ids(spark):
    """The register hash must accept ANY int64 id (negative xxhash64 ids
    included) without ANSI overflow — the engine's flagship graph uses
    full-range hashed ids."""
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    hashed = edges.select(
        F.xxhash64(F.col("src").cast("string")).alias("src"),
        F.xxhash64(F.col("dst").cast("string")).alias("dst"),
    )
    verts = hashed.select("src").union(hashed.select("dst")).distinct().toDF("vertex")
    hb = _nf(hyperball(hashed, verts, 2, p=6), col="nf_est")
    assert all(v > 0 for v in hb.values())  # and no ANSI overflow raised


def test_bfs_duplicate_seeds_deduped(spark):
    from webgraph_ans_rs_spark.operators.bfs import bfs_distances

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    seeds = spark.createDataFrame([(0,), (0,)], "vertex long")
    rows = bfs_distances(edges, seeds, 1).collect()
    assert sorted((r.vertex, r.dist) for r in rows) == [(0, 0), (1, 1)]


def test_effective_diameter_on_chain(spark):
    """On a long path graph NF grows ~linearly in t, so the q=0.9
    interpolated diameter must sit strictly between 0 and max_t and be
    ~where the cumulative ball mass crosses 90%."""
    from webgraph_ans_rs_spark.operators.neighborhood import effective_diameter

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(31)], "vertex long")
    row = effective_diameter(edges, verts, 4, q=0.9).collect()[0]
    assert row.q == 0.9
    assert 2.0 < row.d_eff <= 4.0


def test_transposed_csr_segments_hub_destinations(spark):
    """A hub destination's in-neighbor list must be split across ~
    indeg/max_segment rows (hash-balanced), with the total conserved —
    the skew guard that keeps any single collect_list buffer / Arrow row
    / scatter gather bounded regardless of fan-in."""
    from webgraph_ans_rs_spark.operators.neighborhood import build_transposed_csr

    n = 20000
    hub = 10_000_000
    edges = spark.range(n).selectExpr("id as src", f"cast({hub} as long) as dst")
    verts = spark.range(n).selectExpr("id as vertex").unionByName(
        spark.createDataFrame([(hub,)], "vertex long")
    )
    rows = (
        build_transposed_csr(edges, verts, 8, max_segment=512)
        .selectExpr("dst", "size(srcs) as sz")
        .collect()
    )
    hub_rows = [r for r in rows if r.dst == hub]
    assert len(hub_rows) >= n // 512  # actually segmented
    # hash-balanced: no row holds more than ~4x the target segment size
    assert max(r.sz for r in rows) <= 4 * 512
    # conservation: n in-edges + the hub's own self-loop
    assert sum(r.sz for r in hub_rows) == n + 1


def test_hyperball_packed_on_hub_graph_matches_columns(spark):
    """End-to-end through the SEGMENTED transpose: a 1e4-in-degree hub
    (more than the default max_segment, so its transpose row really
    splits) plus a chain must produce estimates bit-identical to the
    column layout (segmentation must be invisible to the registers)."""
    from webgraph_ans_rs_spark.operators.neighborhood import (
        build_transposed_csr,
        hyperball_packed,
    )

    hub = 50_000
    star = [(i, hub) for i in range(10_000)]
    chain = [(hub + i, hub + 1 + i) for i in range(5)]
    edges = spark.createDataFrame(star + chain, "src long, dst long")
    verts = (
        edges.selectExpr("src as vertex")
        .unionByName(edges.selectExpr("dst as vertex"))
        .distinct()
    )
    hub_rows = build_transposed_csr(edges, verts, 4).where(f"dst = {hub}").count()
    assert hub_rows > 1
    col = _nf(hyperball(edges, verts, 3, p=6), col="nf_est")
    packed = _nf(hyperball_packed(edges, verts, 3, p=6), col="nf_est")
    assert col == packed


def test_scatter_combiner_chunks_fanout(monkeypatch):
    """Unit test of the bounded fan-out: with SCATTER_FANOUT_BYTES shrunk
    so one hub row needs many fold steps, the combiner must (a) actually
    chunk (>1 _acc_fold call) and (b) produce the identical register
    table — peak allocation is bounded by the constant, not the row."""
    import numpy as np
    import pyarrow as pa

    import webgraph_ans_rs_spark.operators.neighborhood as nb

    m = 16
    n_srcs = 1000
    regs = (np.arange(m) % 5 + 1).astype(np.int8)
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([list(range(n_srcs))], type=pa.list_(pa.int64())),
            pa.array([regs.tolist()], type=pa.list_(pa.int8())),
        ],
        ["srcs", "regs"],
    )
    calls = []
    real_fold = nb._acc_fold

    def counting_fold(acc_v, acc_m, vs, mat):
        calls.append(len(vs))
        return real_fold(acc_v, acc_m, vs, mat)

    monkeypatch.setattr(nb, "_acc_fold", counting_fold)
    # max_flat = 3200 // 16 = 200 srcs per fold -> 5 chunks for 1000
    monkeypatch.setattr(nb, "SCATTER_FANOUT_BYTES", 3200)
    out = list(nb._scatter_combiner(m)([batch]))
    assert len(calls) == 5 and max(calls) == 200, calls
    assert len(out) == 1
    got_v = out[0].column("vertex").to_numpy(zero_copy_only=False)
    got_m = nb._flat_regs(out[0], "regs", m)
    assert list(got_v) == list(range(n_srcs))
    assert (got_m == regs).all()


def test_harmonic_centrality_exact_path(spark):
    # path 0→1→2→3: HC(x) = sum over in-reachers of 1/d:
    # HC(0)=0, HC(1)=1, HC(2)=1+1/2, HC(3)=1+1/2+1/3
    from webgraph_ans_rs_spark.operators.neighborhood import (
        harmonic_centrality_exact,
    )
    from pyspark.sql import functions as F

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(4)], "vertex long")
    got = {r.vertex: r.hc for r in harmonic_centrality_exact(edges, verts, 4).collect()}
    assert got[0] == 0.0
    assert got[1] == 1.0
    assert got[2] == 1.5
    assert abs(got[3] - round(1.0 + 0.5 + 1.0 / 3.0, 6)) < 1e-12


def test_harmonic_centrality_exact_depth_bound(spark):
    # depth 2 truncates the 1/3 term of vertex 3
    from webgraph_ans_rs_spark.operators.neighborhood import (
        harmonic_centrality_exact,
    )

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(4)], "vertex long")
    got = {r.vertex: r.hc for r in harmonic_centrality_exact(edges, verts, 2).collect()}
    assert got[3] == 1.5
