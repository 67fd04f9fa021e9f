from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from webgraph_ans_rs_spark.operators.relational import (
    events_hourly,
    pricing_summary,
    top_customers_by_spend,
)
from webgraph_ans_rs_spark.sources.tables import load_table

from tests.conftest import REPO

SF = "/root/testdata/sf0.001"


def test_pricing_summary(spark):
    out = pricing_summary(load_table(spark, SF, "lineitem")).collect()
    assert len(out) >= 1
    li = load_table(spark, SF, "lineitem")
    assert sum(r.count_order for r in out) == li.count()


def test_top_customers(spark):
    out = top_customers_by_spend(
        load_table(spark, SF, "orders"), load_table(spark, SF, "customer"), k=5
    ).collect()
    assert len(out) == 5
    spends = [r.total_spend for r in out]
    assert spends == sorted(spends, reverse=True)


def test_events_hourly(spark):
    ev = load_table(spark, SF, "events")
    out = events_hourly(ev)
    assert out.agg(F.sum("n_events")).first()[0] == ev.count()


def test_build_adjacency_job(tmp_path):
    """Drive the spark-submit entry as a real subprocess CLI."""
    out_dir = str(tmp_path / "adj")
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "build_adjacency.py"),
            "--synthetic-pages",
            "300",
            "--out",
            out_dir,
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    meta = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert meta["num_arcs"] > 0 and meta["num_nodes"] > 0 and meta["buckets"] >= 1


def test_analyze_graph_job(tmp_path, spark):
    """Drive the link-analysis suite CLI end-to-end on a small edge table:
    selected kernels run, write parquet, and report row counts."""
    from webgraph_ans_rs_spark.plans.bench_graph import synthetic_edges

    edges_dir = str(tmp_path / "edges")
    synthetic_edges(spark, 2000).write.mode("overwrite").parquet(edges_dir)
    out_dir = str(tmp_path / "analysis")
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "analyze_graph.py"),
            "--edges", edges_dir,
            "--out", out_dir,
            "--only", "kcore,transitivity,degrees,stats,betweenness",
            "--k", "4",
            "--bt-seed-mod", "503",
            "--bt-depth", "2",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    meta = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    ks = meta["kernels"]
    assert set(ks) == {"kcore", "transitivity", "degrees", "stats", "betweenness"}
    assert ks["transitivity"]["rows"] == 1
    assert ks["degrees"]["rows"] > 0
    assert ks["stats"]["rows"] == 7
    assert ks["betweenness"]["rows"] > 0
