"""Dump .explain("formatted") for every query path touched in round 7.

Usage: python tools/dump_plans_r07.py <repo_root> <out_dir> <suffix>
Run once from the round-start tree (suffix=before) and once from the
optimized tree (suffix=after); the judge checks plan claims against the
committed files in plans/r07/.

Loop kernels are dumped as the frame a caller receives (their barriers
show as Scan ExistingRDD) plus, where a probe exists, the per-superstep
plan the audit asserts.
"""

from __future__ import annotations

import os
import sys

repo = sys.argv[1]
out_dir = sys.argv[2]
suffix = sys.argv[3]
sys.path.insert(0, repo)

from pyspark.sql import functions as F  # noqa: E402

from webgraph_ans_rs_spark.session import get_spark  # noqa: E402
from webgraph_ans_rs_spark.sources.tables import load_table  # noqa: E402

SF = "/root/testdata/sf0.01"
os.makedirs(out_dir, exist_ok=True)

spark = get_spark("plan-dump", master="local[4]")
spark.sparkContext.setLogLevel("ERROR")

import webgraph_ans_rs_spark.plans.derived_graph as dg  # noqa: E402

docs = load_table(spark, SF, "documents")
n = docs.count()
edges = dg.hash_edges(docs, n)
verts = dg.vertices(docs)


def dump(name, df):
    path = os.path.join(out_dir, f"{name}_{suffix}.txt")
    with open(path, "w") as f:
        f.write(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
    print(f"wrote {path}")


# --- transitivity / triangle_count ---------------------------------------
from webgraph_ans_rs_spark.operators.triangles import (  # noqa: E402
    transitivity,
    triangle_count,
)

dump("transitivity", transitivity(edges))
dump("triangle_count", triangle_count(edges))

# --- kcore ----------------------------------------------------------------
from webgraph_ans_rs_spark.operators.kcore import kcore  # noqa: E402

dump("kcore", kcore(edges, k=3))

# --- hits (half-step probe = the audited superstep shape) -----------------
from webgraph_ans_rs_spark.operators.hits import (  # noqa: E402
    hits,
    hits_halfstep_probe,
)

caches: list = []
dump("hits_halfstep", hits_halfstep_probe(edges, verts, release_caches=caches))
for c in caches:
    c.unpersist(blocking=False)
dump("hits_result", hits(edges, verts, num_iter=3))

# --- hyperball superstep --------------------------------------------------
from webgraph_ans_rs_spark.operators.neighborhood import (  # noqa: E402
    _init_regs,
    _superstep_plan,
)

reg_cols = [f"r{j}" for j in range(16)]
regs = _init_regs(verts, 4, reg_cols)
p_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
e_hb = edges.select("src", "dst").repartition(p_shuffle, "dst").persist()
e_hb.count()
dump("hyperball_superstep", _superstep_plan(e_hb, regs, reg_cols))
e_hb.unpersist()

# --- pagerank superstep (audited single-exchange shape) -------------------
from webgraph_ans_rs_spark.operators.pagerank import (  # noqa: E402
    pagerank,
    superstep_probe,
)

aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
spark.conf.set("spark.sql.adaptive.enabled", "false")
caches = []
dump("pagerank_superstep", superstep_probe(edges, verts, release_caches=caches))
for c in caches:
    c.unpersist(blocking=False)
spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
dump("pagerank_result", pagerank(edges, verts, max_iter=5, tol=None).ranks)

# --- adamic_adar ----------------------------------------------------------
from webgraph_ans_rs_spark.operators.linkpred import adamic_adar  # noqa: E402

dump("adamic_adar", adamic_adar(edges))

# --- graph stats ----------------------------------------------------------
from webgraph_ans_rs_spark.operators.graphstats import (  # noqa: E402
    graph_global_stats,
    partition_modularity,
)

dump("graph_global_stats", graph_global_stats(edges, verts))
hosts = docs.select(
    F.col("doc_id").cast("long").alias("vertex"), F.col("source").alias("grp")
)
dump("partition_modularity", partition_modularity(edges, hosts))

# --- dedup pair finders ---------------------------------------------------
from webgraph_ans_rs_spark.operators import dedup as dd  # noqa: E402

dump("simhash_pairs", dd.simhash_dup_pairs(docs))
dump("minhash_lsh", dd.minhash_lsh_pairs(docs))

print("done")
