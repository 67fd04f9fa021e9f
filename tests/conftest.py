from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from webgraph_ans_rs_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def tiny_graph(spark):
    """FIXTURES.md §2 tiny fixture: nodes 0..5, arcs {4→0, 0→2, 0→3, 1→5},
    expected successors(0)=[2,3], successors(1)=[5], successors(2)=[]."""
    edges = spark.createDataFrame(
        [(4, 0), (0, 2), (0, 3), (1, 5)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(6)], "vertex long")
    return edges, verts


@pytest.fixture(scope="session")
def triangle_graph(spark):
    """3-cycle {0,1,2} + chord vertex 3: edges form exactly 2 triangles
    (0,1,2) and (1,2,3) in the undirected view."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (1, 3), (3, 2)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(4)], "vertex long")
    return edges, verts


def seeded_random_graph(spark, n=200, m=800, seed=42):
    """Deterministic pseudo-random directed graph (pure function of seed)."""
    import random

    rng = random.Random(seed)
    es = set()
    while len(es) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            es.add((a, b))
    edges = spark.createDataFrame(sorted(es), "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "vertex long")
    return edges, verts, sorted(es), n


def weblike_edges(spark, n=1500, seed=3):
    """Deterministic crawl-like edge frame: each list holds a short run of
    following ids, often a sample of the previous list (the reference-copy
    case), plus a few nearby ids."""
    import random

    rng = random.Random(seed)
    rows = []
    for x in range(n):
        base = set(range(x + 1, min(x + 1 + rng.randrange(0, 6), n)))
        if rng.random() < 0.6 and rows:
            base.update(rng.sample(rows[-1][1], min(len(rows[-1][1]), 5)))
        base.update(
            max(0, min(n - 1, x + rng.randrange(-100, 100)))
            for _ in range(rng.randrange(0, 4))
        )
        base.discard(x)
        if base:
            rows.append((x, sorted(base)))
    return spark.createDataFrame(
        [(s, d) for s, l in rows for d in l], "src long, dst long"
    )


def hashed_ids(edges):
    """Re-key an edge frame by xxhash64: ids spread over the full int64
    range, the regime where codec arithmetic must wrap mod 2^64."""
    from pyspark.sql import functions as F

    return edges.select(
        F.xxhash64(F.col("src").cast("string")).alias("src"),
        F.xxhash64(F.col("dst").cast("string")).alias("dst"),
    )
