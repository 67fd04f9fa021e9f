from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import seeded_random_graph
from webgraph_ans_rs_spark.operators.graph_build import (
    build_csr_adjacency,
    successors,
    write_adjacency_table,
)


def test_write_load_roundtrip(spark, tmp_path):
    """The store→load path (reference: ANSBvGraph::store/load round-trips,
    tests/test_bvgraph.rs:105-129): persisted adjacency equals in-memory."""
    edges, verts, es, n = seeded_random_graph(spark, n=100, m=400)
    path = str(tmp_path / "adj")
    write_adjacency_table(spark, edges, path, num_buckets=4, table_name="adj_t1")
    loaded = spark.read.parquet(path)
    want = {r.src: r.dsts for r in build_csr_adjacency(edges).collect()}
    got = {r.src: r.dsts for r in loaded.collect()}
    assert got == want
    # point lookup pushes the filter into the scan
    plan = loaded.where(F.col("src") == 5)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" not in plan or "src" in plan


def test_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    """The written adjacency table is bucketed by src: a successors(u)
    point lookup on it scans one bucket of four, not every file."""
    edges, _, es, _ = seeded_random_graph(spark, n=100, m=400)
    try:
        write_adjacency_table(
            spark, edges, str(tmp_path / "adj"), num_buckets=4, table_name="adj_pruned"
        )
        look = successors(spark.table("adj_pruned"), es[0][0])
        assert look.count() == 1
        plan = look._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 4" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS adj_pruned")
