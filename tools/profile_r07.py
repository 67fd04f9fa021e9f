"""Round-7 optimization profiler — per-kernel phase timings on the bench
synthetic graph (noop-sink isolation, guide §1.4; labeled jobs, §1.5).

Usage: python tools/profile_r07.py <kernel> [n_vertices]
Kernels: transitivity kcore hyperball hits pagerank cc_sf lp_sf tri_sf
Each run is a fresh JVM (one kernel per invocation) so phases aren't
polluted by earlier caches.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from webgraph_ans_rs_spark.plans.bench_graph import synthetic_edges  # noqa: E402
from webgraph_ans_rs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, fn, out):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    r = fn()
    dt = round(time.time() - t0, 3)
    out[label] = dt
    spark.sparkContext.setJobDescription(None)
    print(f"  {label}: {dt}s", flush=True)
    return r


def main():
    kernel = sys.argv[1]
    n_vertices = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    spark = get_spark(f"profile-{kernel}")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"kernel": kernel, "n_vertices": n_vertices}
    # warmup codegen
    spark.range(0, 1_000_000).agg(F.sum("id")).collect()

    if kernel in ("transitivity", "trans_total", "kcore", "hyperball", "hits", "pagerank"):
        edges = synthetic_edges(spark, n_vertices).persist()
        out["n_edges"] = edges.count()

    if kernel == "transitivity":
        from webgraph_ans_rs_spark.plans.derived_graph import undirected_symmetrize

        und = timed(
            spark, "und_symmetrize+persist", lambda: _persist(undirected_symmetrize(edges)), out
        )
        und_n = und.count()
        out["n_und"] = und_n
        deg = und.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
        timed(spark, "degree_agg", lambda: noop(deg), out)
        # oriented edge build (attach degrees)
        from webgraph_ans_rs_spark.operators.triangles import orient_by_degree

        e = timed(spark, "orient_by_degree+persist", lambda: _persist(orient_by_degree(edges)), out)
        out["n_oriented"] = e.count()
        # wedge cardinality: sum C(fwd_deg, 2)
        fwd = e.groupBy("a").agg(F.count("*").alias("d"))
        w = fwd.agg(F.sum(F.expr("d * (d - 1) DIV 2"))).first()[0]
        out["oriented_wedges"] = int(w)
        e1 = e.alias("e1")
        e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c")).alias("e2")
        e3 = e.select(F.col("a").alias("a"), F.col("b").alias("c")).alias("e3")
        wedges = e1.join(e2, "b")
        timed(spark, "wedge_join_only", lambda: noop(wedges), out)
        timed(
            spark,
            "full_triangle_join_count",
            lambda: wedges.join(e3, ["a", "c"]).agg(F.count("*")).first(),
            out,
        )

    elif kernel == "trans_total":
        from webgraph_ans_rs_spark.operators.triangles import transitivity

        t0 = time.time()
        r = transitivity(edges).first()
        out["transitivity_total"] = round(time.time() - t0, 3)
        out["n_triangles"] = r.n_triangles
        out["global_cc"] = r.global_cc
        print(f"  transitivity_total: {out['transitivity_total']}s {r}", flush=True)

    elif kernel == "kcore":
        from webgraph_ans_rs_spark.operators.kcore import kcore

        t0 = time.time()
        n = kcore(edges, k=4).count()
        out["kcore_total"] = round(time.time() - t0, 3)
        out["core_vertices"] = n
        print(f"  kcore_total: {out['kcore_total']}s, core={n}", flush=True)

    elif kernel == "hyperball":
        from webgraph_ans_rs_spark.operators.neighborhood import hyperball

        t0 = time.time()
        hyperball(edges, _verts(spark, n_vertices), max_t=3, p=4).count()
        out["hyperball_total"] = round(time.time() - t0, 3)
        print(f"  hyperball_total: {out['hyperball_total']}s", flush=True)

    elif kernel == "hits":
        from webgraph_ans_rs_spark.operators.hits import hits

        t0 = time.time()
        hits(edges, _verts(spark, n_vertices), num_iter=3).count()
        out["hits_total"] = round(time.time() - t0, 3)
        print(f"  hits_total: {out['hits_total']}s", flush=True)

    elif kernel == "pagerank":
        from webgraph_ans_rs_spark.operators.pagerank import pagerank

        for i in range(3):
            t0 = time.time()
            res = pagerank(edges, _verts(spark, n_vertices), max_iter=5, tol=None)
            res.ranks.count()
            out[f"pagerank_total_{i}"] = round(time.time() - t0, 3)
            out[f"pagerank_setup_{i}"] = round(res.setup_sec, 3)
            out[f"pagerank_loop_{i}"] = round(res.loop_sec, 3)
            print(
                f"  pagerank[{i}]: total={out[f'pagerank_total_{i}']} "
                f"setup={res.setup_sec:.3f} loop={res.loop_sec:.3f}",
                flush=True,
            )

    elif kernel in ("cc_sf", "lp_sf", "tri_sf", "pr_sf"):
        import __spark_entry__ as entry_mod

        fns = {
            "cc_sf": entry_mod._q_connected_components,
            "lp_sf": entry_mod._q_label_propagation,
            "tri_sf": entry_mod._q_triangle_count,
            "pr_sf": entry_mod._q_pagerank,
        }
        fn = fns[kernel]
        for i in range(3):
            t0 = time.time()
            fn(spark, SF_DIR).count()
            out[f"run_{i}"] = round(time.time() - t0, 3)
            print(f"  run_{i}: {out[f'run_{i}']}s", flush=True)

    print(json.dumps(out))


def _persist(df):
    df = df.persist()
    df.count()
    return df


def _verts(spark, n):
    return spark.range(0, n).select(F.col("id").alias("vertex"))


if __name__ == "__main__":
    main()
