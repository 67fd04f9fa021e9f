"""Gap-coded CSR layout: exact round-trip (decode(encode(adj)) == adj) and
hub-safe label-propagation argmax equality.

The gap layout is the engine's analogue of the reference's gap-coded
residuals (/root/reference/src/bvgraph/mod.rs:13-23: FirstResidual is
stored relative to the node, Residuals as successive gaps) — the storage
lever that closes the bits/link gap (plans/storage.py measures it;
BENCH_r03 records it). Lossless-ness is what these tests pin down; the
driver gate re-proves it against DuckDB via the `successors_gaps` query.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from webgraph_ans_rs_spark.operators.graph_build import (
    build_csr_adjacency,
    decode_gaps,
    encode_gaps,
)
from webgraph_ans_rs_spark.operators.labelprop import label_propagation

from tests.conftest import seeded_random_graph
from tests.test_components_labels_triangles import python_lp


def _canon(adj):
    return sorted(
        adj.select("src", F.col("dsts").cast("string").alias("s")).collect()
    )


def test_gap_roundtrip_random_graph(spark):
    edges, _, _, _ = seeded_random_graph(spark)
    adj = build_csr_adjacency(edges)
    for int_gaps in (False, True):  # ids here are small, so int32 is valid
        for first_from_src in (True, False):
            rt = decode_gaps(
                encode_gaps(adj, int_gaps=int_gaps, first_from_src=first_from_src),
                first_from_src=first_from_src,
            )
            assert _canon(rt) == _canon(adj)


def test_gap_roundtrip_hashed_ids(spark):
    """64-bit hashed (negative-capable) ids round-trip with long gaps —
    first_from_src deltas are signed by construction."""
    edges, _, _, _ = seeded_random_graph(spark)
    hashed = edges.select(
        F.xxhash64(F.col("src").cast("string")).alias("src"),
        F.xxhash64(F.col("dst").cast("string")).alias("dst"),
    )
    adj = build_csr_adjacency(hashed)
    rt = decode_gaps(encode_gaps(adj))
    assert _canon(rt) == _canon(adj)


def test_gap_single_and_two_element_lists(spark):
    edges = spark.createDataFrame(
        [(0, 7), (1, 3), (1, 9)], "src long, dst long"
    )
    adj = build_csr_adjacency(edges)
    rt = decode_gaps(encode_gaps(adj, int_gaps=True))
    got = {r.src: list(r.dsts) for r in rt.collect()}
    assert got == {0: [7], 1: [3, 9]}


def test_gap_parquet_roundtrip(spark, tmp_path):
    """The layout survives a parquet v2 write/read cycle byte-exactly."""
    edges, _, _, _ = seeded_random_graph(spark)
    adj = build_csr_adjacency(edges)
    path = str(tmp_path / "gaps")
    encode_gaps(adj, int_gaps=True).write.option(
        "parquet.writer.version", "v2"
    ).option("compression", "zstd").parquet(path)
    rt = decode_gaps(spark.read.parquet(path))
    assert _canon(rt) == _canon(adj)


def test_lp_argmax_agg_equals_window_on_hub(spark):
    """The hub-safe min_by aggregation argmax must return exactly the
    (count desc, label asc) argmax the window form returned — here checked
    against the Python LP oracle, which breaks ties to the smallest label
    — including on a hub whose neighbor-label histogram is wide."""
    hub_edges = [(0, i) for i in range(1, 120)] + [(i, i + 1) for i in range(1, 119)]
    edges = spark.createDataFrame(hub_edges, "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(121)], "vertex long")
    got = {r.vertex: r.label for r in label_propagation(edges, verts, num_iter=3).collect()}
    assert got == python_lp(hub_edges, 121, 3)


def test_lp_argmax_agg_equals_window_seeded(spark):
    edges, verts, es, n = seeded_random_graph(spark)
    got = {r.vertex: r.label for r in label_propagation(edges, verts, num_iter=2).collect()}
    assert got == python_lp(es, n, 2)

