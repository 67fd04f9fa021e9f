"""Bench harness — prints ONE JSON line with per-query seconds.

Driver contract: runs headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; output:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Beyond the sf-dir oracle queries, two scale benches run on deterministic
synthetic inputs (pure functions of seed, identical at any parallelism):

* pagerank_supersteps — 5 PageRank supersteps on a ~1.4M-edge synthetic web
  graph; reported both as seconds and as edges_per_sec (the BASELINE.json
  headline metric).
* pipeline_extract — HTML parse → edge build on synthetic pages (the
  vectorized-UDF path).

Scaling-efficiency protocol (N vs 4N cores, interleaved fresh-JVM runs)
lives in tools/bench_scaling_interleaved.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from webgraph_ans_rs_spark.datagen import synthetic_pages  # noqa: E402
from webgraph_ans_rs_spark.operators.extract import extract_text_and_links  # noqa: E402
from webgraph_ans_rs_spark.operators.graph_build import edges_from_pages  # noqa: E402
from webgraph_ans_rs_spark.operators.pagerank import pagerank  # noqa: E402
from webgraph_ans_rs_spark.plans.bench_graph import synthetic_edges  # noqa: E402
from webgraph_ans_rs_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "outdegree",
    "successors",
    "pagerank_5iter",
    "connected_components",
    "label_propagation_2iter",
    "triangle_count",
]
# the headline suite is FIXED across rounds for comparability; registry
# slots consolidated under the 50-slot cap (LP → label_propagation_modes,
# outdegree/indegree → degrees_inout) keep their original timed shapes
# via these overrides


def _outdegree_fixed(spark, sf_dir):
    from webgraph_ans_rs_spark.operators.degrees import outdegrees

    edges, verts = entry_mod._graph(spark, sf_dir)
    return outdegrees(edges, verts)


HEADLINE_OVERRIDES = {
    "label_propagation_2iter": lambda spark, sf: entry_mod._q_label_propagation(
        spark, sf
    ),
    "outdegree": _outdegree_fixed,
    # triangle_count's registry slot consolidated into transitivity (whose
    # output pins n_triangles); the bench keeps timing the original shape
    "triangle_count": lambda spark, sf: entry_mod._q_triangle_count(spark, sf),
    # pagerank_5iter + pagerank_layout consolidated into pagerank_modes
    "pagerank_5iter": lambda spark, sf: entry_mod._q_pagerank(spark, sf),
}

BENCH_VERTICES = int(os.environ.get("SPARK_GRAFT_BENCH_VERTICES", "2000000"))
BENCH_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "20000"))
PR_SUPERSTEPS = 5


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JIT/codegen/parquet-reader init so the first headline query
    # isn't charged for JVM boot (the reference's protocol is median-of-10
    # on a warm process, script.py:123-142)
    spark.range(0, 1_000_000).agg(F.sum("id")).collect()
    _outdegree_fixed(spark, sf_dir).count()
    # compile the superstep plan shapes once on a toy graph so the timed
    # pagerank queries measure execution, not first-use codegen (the
    # reference's warm-process protocol, script.py:123-142; cold-codegen
    # noise was the bulk of the r02 pagerank_5iter regression)
    _wedges = synthetic_edges(spark, 2000, num_partitions=4)
    _wverts = _wedges.select(F.col("src").alias("vertex")).union(
        _wedges.select(F.col("dst").alias("vertex"))
    ).distinct()
    pagerank(_wedges, _wverts, max_iter=2, tol=None)

    # min-of-3 on EVERY headline query (not just ns/arc): identical jobs
    # vary up to ~1.9× across host windows on this box — interference is
    # one-sided, so the minimum estimates uncontended runtime and the
    # committed artifact stops recording spurious across-the-board
    # regressions (the r04/r05 lesson). All samples land in BENCH_DETAIL
    # so the spread stays auditable.
    queries: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    qs = entry_mod.queries()

    def timed(name: str, fn) -> float:
        best = float("inf")
        samples.setdefault(name, [])
        for _ in range(3):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            samples[name].append(round(dt, 3))
            best = min(best, dt)
        queries[name] = round(best, 3)
        return best

    for name in HEADLINE:
        qfn = HEADLINE_OVERRIDES.get(name) or qs[name]
        timed(name, lambda qfn=qfn: qfn(spark, sf_dir).count())

    # pipeline: pages → extract (Arrow UDF) → edges; generation is
    # materialized to parquet first so the timing isolates parse+build.
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        pages_path = os.path.join(tmp, "pages.parquet")
        synthetic_pages(spark, BENCH_PAGES).write.mode("overwrite").parquet(pages_path)
        pages = spark.read.parquet(pages_path)
        n_pipeline_edges = edges_from_pages(extract_text_and_links(pages)).count()
        timed(
            "pipeline_extract",
            lambda: edges_from_pages(extract_text_and_links(pages)).count(),
        )

    # pagerank throughput on the big synthetic graph
    edges = synthetic_edges(spark, BENCH_VERTICES).persist()
    n_edges = edges.count()

    # random access: write the bucketed adjacency table of the big synthetic
    # graph, then enumerate successors of 10k pseudo-random nodes through
    # bucket-pruned point lookups — the reference's headline random-access
    # protocol shape (examples/bench_random_access.rs:15,28-41, 10M random
    # nodes at 22-58 ns/arc single-threaded Rust mmap; a Spark batch lookup
    # amortizes job overhead across the batch, reported in the same ns/arc
    # accounting).
    import tempfile as _tf

    from webgraph_ans_rs_spark.operators.graph_build import (
        successors_batch,
        write_adjacency_table,
    )

    with _tf.TemporaryDirectory() as tmp:
        write_adjacency_table(
            spark, edges, f"{tmp}/adj", num_buckets=16, table_name="bench_adj"
        )
        adj_t = spark.table("bench_adj")
        # deterministic "random" probe set: multiplicative-hash node ids
        probes = (
            spark.range(0, 10000)
            .select(((F.col("id") * 2654435761) % F.lit(BENCH_VERTICES)).alias("vertex"))
            .distinct()
        )
        n_arcs_enum = (
            successors_batch(adj_t, probes)
            .agg(F.coalesce(F.sum(F.size("dsts")), F.lit(0)))
            .first()[0]
        )
        ra_sec = timed(
            "random_access_10k",
            lambda: successors_batch(adj_t, probes)
            .agg(F.coalesce(F.sum(F.size("dsts")), F.lit(0)))
            .first(),
        )

        # sequential scan: enumerate EVERY successor in the written table —
        # the reference's seq protocol (examples/bench_seq_access.rs:20-30,
        # 3.4-21.5 ns/arc, measured on a WARM mmap). min-of-3: a single
        # cold scan of the just-written table measured 93 ns/arc vs a
        # 22-28 ns/arc steady state (page cache + scan codegen warm-up) —
        # that cold-run variance was the entire r02→r03 'regression'
        # (34.7 → 54.3 ns/arc, BASELINE.md round 4); the cold value is
        # reported alongside for transparency
        seq_sec = float("inf")
        seq_cold = None
        for _ in range(3):
            t0 = time.time()
            n_arcs_seq = adj_t.agg(
                F.coalesce(F.sum(F.size("dsts")), F.lit(0))
            ).first()[0]
            dt = time.time() - t0
            seq_cold = seq_cold if seq_cold is not None else dt
            seq_sec = min(seq_sec, dt)
        queries["sequential_scan"] = round(seq_sec, 3)
        spark.sql("DROP TABLE IF EXISTS bench_adj")

        # storage accounting (reference: bit/link) — on the graph with ids
        # hashed the way production ingests them (vertex = xxhash64(url),
        # input_hint): 64-bit hashed ids destroy delta-encoding locality,
        # which is exactly what the dense-id-relabeled layout recovers
        from webgraph_ans_rs_spark.plans.storage import adjacency_storage_metrics

        hashed = edges.select(
            F.xxhash64(F.col("src").cast("string")).alias("src"),
            F.xxhash64(F.col("dst").cast("string")).alias("dst"),
        )
        storage = adjacency_storage_metrics(spark, hashed, f"{tmp}/storage")

        # locality block: the same layouts on a web-LIKE graph (power-law
        # src±offset links) with ORDER-PRESERVING dense ids — real crawls
        # have host locality and WebGraph numbers nodes in URL order, which
        # is where the reference's 2.897 bits/link on cnr-2000 comes from;
        # the hashed sweep above destroys that locality by construction
        from webgraph_ans_rs_spark.operators.graph_build import (
            build_csr_adjacency,
            encode_gaps,
        )
        from webgraph_ans_rs_spark.plans.bench_graph import (
            synthetic_edges_crawl,
            synthetic_edges_local,
        )
        from webgraph_ans_rs_spark.plans.storage import dir_bytes

        def _measure_layouts(block, edges_df, variants):
            n = edges_df.count()
            storage[block] = {"num_edges": n, "layouts": {}}
            for nm, df, opts in variants:
                path = f"{tmp}/{block}-{nm}"
                # ref-coded tables are keyed/sorted by (bucket, src) — the
                # layout decode_refs' sequential per-bucket pass relies on
                keys = ("bucket", "src") if "bucket" in df.columns else ("src",)
                w = (
                    df.repartition(8, keys[0])
                    .sortWithinPartitions(*keys)
                    .write.mode("overwrite")
                    .option("compression", "zstd")
                )
                for k, v in opts.items():
                    w = w.option(k, v)
                w.parquet(path)
                b = dir_bytes(spark, path)
                storage[block]["layouts"][f"{nm}-zstd"] = {
                    "bytes": b,
                    "bits_per_link": round(8.0 * b / n, 3),
                }

        def _narrow_refs(enc):
            # dense ids → int32 ref/res_gaps (the encode_gaps(int_gaps=True)
            # contract); blocks are int already. root_src (the random-access
            # chain pointer) is DROPPED from the storage rows — the
            # reference's bits/link likewise counts .graph only, with the
            # .offsets/.pointers random-access index as a separate artifact
            return enc.select(
                "bucket",
                "src",
                F.col("ref").cast("int").alias("ref"),
                "blocks",
                F.col("res_gaps").cast("array<int>").alias("res_gaps"),
            )

        from webgraph_ans_rs_spark.operators.refcodec import encode_refs

        v2 = {"parquet.writer.version": "v2"}
        ledges = synthetic_edges_local(spark, BENCH_VERTICES // 4).persist()
        ladj = build_csr_adjacency(ledges, 8).persist()
        _measure_layouts(
            "locality",
            ledges,
            (
                ("csr_dense_ids", ladj, {}),
                ("csr_dense_gaps", encode_gaps(ladj, int_gaps=True), v2),
                ("csr_dense_refs", _narrow_refs(encode_refs(ladj, 8)), v2),
            ),
        )
        ladj.unpersist()
        ledges.unpersist()
        # consecutivity block: nav/sibling link runs on top of offset
        # locality; gap-1 runs cost ~0 bits under DELTA_BINARY_PACKED, which
        # is why BV-style interval codes do not pay above parquet v2
        # (BASELINE.md "Interval coding")
        cedges = synthetic_edges_crawl(spark, BENCH_VERTICES // 4).persist()
        cadj = build_csr_adjacency(cedges, 8).persist()
        _measure_layouts(
            "consecutivity",
            cedges,
            (
                ("csr_dense_gaps", encode_gaps(cadj, int_gaps=True), v2),
                ("csr_dense_refs", _narrow_refs(encode_refs(cadj, 8)), v2),
            ),
        )
        cadj.unpersist()
        cedges.unpersist()

        # cnr-2000 block: the REAL web graph from the reference's test
        # corpus (decoded once by sources/bvgraph.py, counts verified
        # against the published .properties) — anchors bits/link against
        # the reference's 2.897 on the SAME graph and runs the flagship
        # kernels on real web structure
        from webgraph_ans_rs_spark.sources.bvgraph import ensure_cnr2000

        cnr_path, cnr_meta = ensure_cnr2000()
        cnr_edges = spark.read.parquet(cnr_path).persist()
        cnr_adj = build_csr_adjacency(cnr_edges, 8).persist()
        cnr_adj.count()
        t0 = time.time()
        cnr_enc_full = encode_refs(cnr_adj, 8).persist()  # incl. root_src
        cnr_enc = _narrow_refs(cnr_enc_full).persist()
        cnr_enc.count()
        cnr_encode_sec = round(time.time() - t0, 3)
        _measure_layouts(
            "cnr2000",
            cnr_edges,
            (
                ("csr_dense_ids", cnr_adj, {}),
                ("csr_dense_gaps", encode_gaps(cnr_adj, int_gaps=True), v2),
                ("csr_dense_refs", cnr_enc, v2),
            ),
        )
        storage["cnr2000"]["nodes"] = cnr_meta["nodes"]
        storage["cnr2000"]["reference_bvgraph_bits_per_link"] = 2.897
        storage["cnr2000"]["refs_encode_sec"] = cnr_encode_sec

        # below-parquet gamma/zeta bit packing of the ref layout (the
        # last 1.39x closed: operators/bitpack.py) — standard w7/r3 and
        # the reference's high-compression config (w=16, unbounded chain,
        # script.py:24 {"w":"16","c":"2000000000"})
        from webgraph_ans_rs_spark.operators.bitpack import (
            decode_refs_bitpacked,
            encode_refs_bitpacked,
        )

        pr_probes = [1 + 32363 * i for i in range(8)]  # spread over nodes

        for bp_name, bp_w, bp_mr in (
            ("csr_refs_bitpacked", 7, 3),
            ("csr_refs_bitpacked_hc", 16, 2_000_000_000),
        ):
            t0 = time.time()
            bp = encode_refs_bitpacked(
                cnr_adj, num_buckets=8, window=bp_w, max_ref=bp_mr
            ).persist()
            bp.count()
            bp_enc_sec = round(time.time() - t0, 3)
            bp_path = f"{tmp}/{bp_name}"
            (
                bp.repartition(8, "bucket")
                .sortWithinPartitions("bucket", "first_src")
                .write.mode("overwrite")
                .option("compression", "zstd")
                .parquet(bp_path)
            )
            t0 = time.time()
            n_bp_arcs = (
                decode_refs_bitpacked(bp)
                .agg(F.coalesce(F.sum(F.size("dsts")), F.lit(0)))
                .first()[0]
            )
            bp_dec_sec = round(time.time() - t0, 3)
            assert n_bp_arcs == cnr_meta["arcs"], (bp_name, n_bp_arcs)
            bpb = dir_bytes(spark, bp_path)
            row = {
                "bytes": bpb,
                "bits_per_link": round(8.0 * bpb / cnr_meta["arcs"], 3),
                "encode_sec": bp_enc_sec,
                "decode_sec": bp_dec_sec,
            }
            if bp_name == "csr_refs_bitpacked":
                # single-chunk point reads (first/last_src pruning + one
                # chunk decoded driver-side)
                from webgraph_ans_rs_spark.operators.bitpack import (
                    successors_from_bitpacked,
                )

                t0 = time.time()
                n_hits = sum(
                    successors_from_bitpacked(bp, u).count()
                    for u in pr_probes
                )
                row["point_read_ms_per_probe"] = round(
                    1e3 * (time.time() - t0) / len(pr_probes), 1
                )
                row["point_read_hits"] = int(n_hits)
                from webgraph_ans_rs_spark.operators.bitpack import (
                    successors_from_bitpacked_batch,
                )

                bp_probes = spark.range(0, 1000).select(
                    (
                        (F.col("id") * 2654435761) % F.lit(cnr_meta["nodes"])
                    ).alias("vertex")
                ).distinct()
                t0 = time.time()
                successors_from_bitpacked_batch(bp, bp_probes).count()
                row["batch_1000_sec"] = round(time.time() - t0, 3)
            storage["cnr2000"]["layouts"][f"{bp_name}-zstd"] = row
            bp.unpersist()
        # copy-coverage parity stat: arcs NOT stored as residuals are
        # copied or nothing — directly comparable to the reference
        # artifact's copiedarcs+intervalisedarcs=2638802 of 3216152
        # (.properties; our layout has no interval class, so copied
        # covers both)
        n_res = cnr_enc.agg(
            F.coalesce(F.sum(F.size("res_gaps")), F.lit(0))
        ).first()[0]
        storage["cnr2000"]["copied_arcs"] = int(cnr_meta["arcs"] - n_res)
        storage["cnr2000"]["copied_frac"] = round(
            (cnr_meta["arcs"] - n_res) / cnr_meta["arcs"], 3
        )
        # per-component bits of the bitpacked payload (the reference's
        # percomponent_analysis.py analogue) vs the published cnr-2000
        # .properties split — shows WHERE the 2.758-vs-2.897 structure
        # lives (tools/ans_experiment.py uses the same streams for the
        # measured rANS adopt-or-reject)
        from webgraph_ans_rs_spark.operators.bitpack import (
            refs_component_bits,
        )

        comp = refs_component_bits(cnr_adj, num_buckets=8, window=7,
                                   max_ref=3, chunk=1024)
        storage["cnr2000"]["component_bits"] = comp
        storage["cnr2000"]["published_component_bits"] = {
            "outdegrees": 1660205, "references": 781540, "blocks": 1353080,
            "intervals": 829187, "residuals": 4694729,
        }
        # decode cost (full sequential decode of the ref layout back to
        # the CSR — the price a query pays if it reads the archive layout
        # directly instead of the decoded CSR)
        from webgraph_ans_rs_spark.operators.refcodec import decode_refs

        t0 = time.time()
        decode_refs(cnr_enc).agg(
            F.coalesce(F.sum(F.size("dsts")), F.lit(0))
        ).first()
        storage["cnr2000"]["refs_decode_sec"] = round(time.time() - t0, 3)
        # chain-root point reads: ≤ window·max_ref+1 rows decoded per
        # probe (the .pointers/.states analogue) — should cost ~a pruned
        # scan, not a bucket-prefix decode
        from webgraph_ans_rs_spark.operators.refcodec import successors_from_refs

        t0 = time.time()
        n_pt = sum(
            successors_from_refs(cnr_enc_full, u).count() for u in pr_probes
        )
        storage["cnr2000"]["refs_point_read_ms_per_probe"] = round(
            1e3 * (time.time() - t0) / len(pr_probes), 1
        )
        storage["cnr2000"]["refs_point_read_hits"] = int(n_pt)
        # BATCH random access (the reference's protocol shape:
        # bench_random_access.rs enumerates millions of nodes in one go;
        # one driver job per probe amortizes nothing) — 1000 probes in
        # ONE distributed job
        from webgraph_ans_rs_spark.operators.refcodec import (
            successors_from_refs_batch,
        )

        batch_probes = spark.range(0, 1000).select(
            ((F.col("id") * 2654435761) % F.lit(cnr_meta["nodes"])).alias(
                "vertex"
            )
        ).distinct()
        t0 = time.time()
        n_batch_arcs = (
            successors_from_refs_batch(cnr_enc_full, batch_probes)
            .agg(F.coalesce(F.sum(F.size("dsts")), F.lit(0)))
            .first()[0]
        )
        storage["cnr2000"]["refs_batch_1000_sec"] = round(time.time() - t0, 3)
        storage["cnr2000"]["refs_batch_1000_arcs"] = int(n_batch_arcs)
        cnr_enc.unpersist()
        cnr_enc_full.unpersist()
        # flagship kernels on the real graph
        cnr_verts = spark.range(0, cnr_meta["nodes"]).select(
            F.col("id").alias("vertex")
        )
        t0 = time.time()
        cnr_pr = pagerank(cnr_edges, cnr_verts, max_iter=PR_SUPERSTEPS, tol=None)
        cnr_pr.ranks.count()
        cnr_pr_sec = round(time.time() - t0, 3)
        from webgraph_ans_rs_spark.operators.neighborhood import hyperball_packed

        t0 = time.time()
        cnr_nf = {
            r.t: r.nf_est
            for r in hyperball_packed(cnr_edges, cnr_verts, max_t=4, p=8).collect()
        }
        cnr_hb_sec = round(time.time() - t0, 3)
        # round-5 kernels on the REAL web graph: HITS, k-core, global
        # clustering, Adamic–Adar — web structure (bow-tie, 1e4-degree
        # hubs) is what the caps/orientations exist for
        from webgraph_ans_rs_spark.operators.hits import hits as _hits_k
        from webgraph_ans_rs_spark.operators.kcore import kcore as _kcore_k
        from webgraph_ans_rs_spark.operators.linkpred import (
            adamic_adar as _aa_k,
        )
        from webgraph_ans_rs_spark.operators.triangles import (
            transitivity as _trans_k,
        )

        t0 = time.time()
        _hits_k(cnr_edges, cnr_verts, num_iter=3).count()
        cnr_hits_sec = round(time.time() - t0, 3)
        t0 = time.time()
        cnr_core_n = _kcore_k(cnr_edges, k=12, max_rounds=64).count()
        cnr_kcore_sec = round(time.time() - t0, 3)
        t0 = time.time()
        cnr_trans = _trans_k(cnr_edges).first()
        cnr_trans_sec = round(time.time() - t0, 3)
        t0 = time.time()
        cnr_aa_top = _aa_k(cnr_edges).first()
        cnr_aa_sec = round(time.time() - t0, 3)
        # round-6 kernels: sampled 4-bounded Brandes betweenness (81 seeds
        # on the real bow-tie structure — per-seed 4-hop balls reach ~1e5
        # vertices through the hubs, exactly the state-size regime the
        # (seed,v) pair design is sized for) and weighted PageRank (same
        # superstep discipline, per-arc weight share)
        from webgraph_ans_rs_spark.operators.betweenness import (
            betweenness_sampled as _bt_k,
        )
        from webgraph_ans_rs_spark.operators.pagerank import (
            pagerank_weighted as _wpr_k,
        )

        t0 = time.time()
        cnr_bt_n = _bt_k(
            cnr_edges, cnr_verts.where(F.col("vertex") % 4001 == 0), 4
        ).count()
        cnr_bt_sec = round(time.time() - t0, 3)
        cnr_ew = cnr_edges.select(
            "src",
            "dst",
            (
                F.lit(1)
                + ((F.col("src") % 97) + F.lit(3) * (F.col("dst") % 97)) % 5
            )
            .cast("double")
            .alias("wt"),
        )
        t0 = time.time()
        cnr_wpr = _wpr_k(cnr_ew, cnr_verts, num_iter=PR_SUPERSTEPS)
        cnr_wpr.ranks.count()
        cnr_wpr_sec = round(time.time() - t0, 3)
        storage["cnr2000"]["kernels"] = {
            "pagerank_5iter_sec": cnr_pr_sec,
            "pagerank_edges_per_sec": round(
                PR_SUPERSTEPS * cnr_meta["arcs"] / max(1e-9, cnr_pr.loop_sec)
            ),
            "hyperball_p8_t4_sec": cnr_hb_sec,
            "hyperball_nf4_est": cnr_nf[4],
            "hits_3iter_sec": cnr_hits_sec,
            "kcore12_sec": cnr_kcore_sec,
            "kcore12_vertices": int(cnr_core_n),
            "transitivity_sec": cnr_trans_sec,
            "global_cc": cnr_trans.global_cc,
            "n_triangles": int(cnr_trans.n_triangles),
            "adamic_adar_sec": cnr_aa_sec,
            "adamic_adar_top_score": None if cnr_aa_top is None else cnr_aa_top.aa,
            "betweenness_81seed_t4_sec": cnr_bt_sec,
            "betweenness_vertices_reached": int(cnr_bt_n),
            "pagerank_weighted_5iter_sec": cnr_wpr_sec,
            "pagerank_weighted_edges_per_sec": round(
                PR_SUPERSTEPS * cnr_meta["arcs"] / max(1e-9, cnr_wpr.loop_sec)
            ),
        }
        cnr_adj.unpersist()
        cnr_edges.unpersist()

        # packed HyperBall at p=10 (1024 registers — the precision the
        # column layout cannot reach): timed on a 100k-vertex synthetic
        # web graph, 3 supersteps
        p10_edges = synthetic_edges(spark, 100_000).persist()
        p10_n = p10_edges.count()
        p10_verts = spark.range(0, 100_000).select(F.col("id").alias("vertex"))
        t0 = time.time()
        hyperball_packed(p10_edges, p10_verts, max_t=3, p=10).count()
        storage["hyperball_packed_p10"] = {
            "edges": p10_n,
            "supersteps": 3,
            "sec": round(time.time() - t0, 3),
        }
        p10_edges.unpersist()
    verts = (
        spark.range(0, BENCH_VERTICES)
        .select(F.col("id").alias("vertex"))
    )
    # min-of-3: identical jobs vary up to ±4× across host windows on this
    # box (BASELINE.md protocol notes); interference is one-sided so the
    # minimum is the best estimator of uncontended runtime
    best = None
    pr_sec = float("inf")
    for _ in range(3):
        t0 = time.time()
        res = pagerank(edges, verts, max_iter=PR_SUPERSTEPS, tol=None)
        res.ranks.count()
        pr_sec = min(pr_sec, time.time() - t0)
        best = res if best is None or res.loop_sec < best.loop_sec else best
    res = best
    queries["pagerank_supersteps"] = round(pr_sec, 3)
    # superstep throughput excludes the one-time CSR/degree setup — same
    # accounting as the reference's ns/arc (decode only, not compression)
    edges_per_sec = PR_SUPERSTEPS * n_edges / res.loop_sec

    # HyperBall at full bench scale (p=4 → 16 register columns, 3
    # supersteps): the WebGraph companion algorithm over the same edge
    # table — evidences the column-register max-merge shape at
    # multi-million-edge scale, not just under the sf0.01 oracle gate
    from webgraph_ans_rs_spark.operators.neighborhood import hyperball

    t0 = time.time()
    hb = hyperball(edges, verts, max_t=3, p=4)
    hb.count()
    hb_sec = round(time.time() - t0, 3)  # reported standalone: the suite
    # total's query set is fixed across rounds for comparability

    # round-5 kernels at full bench scale (standalone rows, same fixed-
    # suite reasoning): HITS 3 iters, k-core peel, transitivity — each on
    # the same multi-million-edge synthetic web graph
    from webgraph_ans_rs_spark.operators.hits import hits as _hits
    from webgraph_ans_rs_spark.operators.kcore import kcore as _kcore
    from webgraph_ans_rs_spark.operators.triangles import transitivity as _trans

    t0 = time.time()
    _hits(edges, verts, num_iter=3).count()
    hits_sec = round(time.time() - t0, 3)
    t0 = time.time()
    _kcore(edges, k=4).count()
    kcore_sec = round(time.time() - t0, 3)
    t0 = time.time()
    _trans(edges).count()
    trans_sec = round(time.time() - t0, 3)
    edges.unpersist()

    total = round(sum(queries.values()), 3)
    headline = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": os.path.basename(sf_dir.rstrip("/")).replace("sf", ""),
        "cpus": int(cpus),
        "pagerank_edges_per_sec": round(edges_per_sec),
        "random_access_ns_per_arc": round(1e9 * ra_sec / max(1, n_arcs_enum)),
        "sequential_ns_per_arc": round(1e9 * seq_sec / max(1, n_arcs_seq), 1),
        "sequential_cold_ns_per_arc": round(1e9 * seq_cold / max(1, n_arcs_seq), 1),
        "hyperball_3iter_sec": hb_sec,
        "hits_3iter_sec": hits_sec,
        "kcore_sec": kcore_sec,
        "transitivity_sec": trans_sec,
        "cnr2000_bits_per_link": storage.get("cnr2000", {})
        .get("layouts", {})
        .get("csr_dense_refs-zstd", {})
        .get("bits_per_link"),
        "cnr2000_bitpacked_bits_per_link": storage.get("cnr2000", {})
        .get("layouts", {})
        .get("csr_refs_bitpacked-zstd", {})
        .get("bits_per_link"),
        "cnr2000_bitpacked_hc_bits_per_link": storage.get("cnr2000", {})
        .get("layouts", {})
        .get("csr_refs_bitpacked_hc-zstd", {})
        .get("bits_per_link"),
    }
    detail = dict(
        headline,
        query_samples=samples,  # all min-of-3 raw samples — auditable spread
        pagerank_edges=n_edges,
        pagerank_supersteps=PR_SUPERSTEPS,
        pagerank_setup_sec=round(res.setup_sec, 3),
        pagerank_loop_sec=round(res.loop_sec, 3),
        pipeline_pages=BENCH_PAGES,
        pipeline_edges=n_pipeline_edges,
        random_access_nodes=10000,
        random_access_arcs=int(n_arcs_enum),
        sequential_arcs=int(n_arcs_seq),
        storage=storage,
    )
    # The storage/cnr2000 blobs live in a side file + a PRECEDING stdout
    # line; the LAST line is the compact machine-readable headline. The
    # driver's BENCH artifact keeps only a 2000-char stdout tail — round 4
    # shipped `parsed: null` because the single fat JSON line outgrew it.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail))
    line = json.dumps(headline)
    if len(line) > 1800:  # never ship an unparseable artifact again
        headline["queries"] = {"total_only": total}
        line = json.dumps(headline)
    print(line)


if __name__ == "__main__":
    main()
