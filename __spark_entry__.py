"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Graph queries run over deterministic edge tables derived from the
``documents`` testdata table (webgraph_ans_rs_spark/plans/derived_graph.py)
so DuckDB can regenerate the identical graph — see FIXTURES.md §5.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webgraph_ans_rs_spark.operators.components import connected_components
from webgraph_ans_rs_spark.operators.degrees import (
    degree_distribution,
    indegrees,
    outdegrees,
)
from webgraph_ans_rs_spark.operators.graph_build import build_csr_adjacency
from webgraph_ans_rs_spark.operators.labelprop import label_propagation
from webgraph_ans_rs_spark.operators.pagerank import pagerank
from webgraph_ans_rs_spark.operators.triangles import (
    triangle_count,
    triangles_per_vertex,
)
from webgraph_ans_rs_spark.operators import dedup as dd
from webgraph_ans_rs_spark.operators import relational as rel
from webgraph_ans_rs_spark.operators import similarity as sim
from webgraph_ans_rs_spark.operators import textstats as ts
from webgraph_ans_rs_spark.plans import derived_graph as dg
from webgraph_ans_rs_spark.plans import oracles
from webgraph_ans_rs_spark.plans import oracles_pipeline as op
from webgraph_ans_rs_spark.sources.tables import load_table

SMOKE_SF_DIR = "/root/testdata/sf0.001"
PAGERANK_ITERS = 5
LP_ITERS = 2
EMB_DIM = 64  # testdata embeddings dim; oracle SQL needs it statically
_N_DOCS_CACHE: dict[str, int] = {}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _n_docs(spark: SparkSession, sf_dir: str) -> int:
    if sf_dir not in _N_DOCS_CACHE:
        _N_DOCS_CACHE[sf_dir] = _docs(spark, sf_dir).count()
    return _N_DOCS_CACHE[sf_dir]


def _graph(spark: SparkSession, sf_dir: str):
    docs = _docs(spark, sf_dir)
    return dg.hash_edges(docs, _n_docs(spark, sf_dir)), dg.vertices(docs)


def _clustered(spark: SparkSession, sf_dir: str):
    docs = _docs(spark, sf_dir)
    return dg.clustered_edges(docs, _n_docs(spark, sf_dir)), dg.vertices(docs)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship (SURVEY.md §7 minimum slice): synthetic pages → Arrow-UDF
    HTML extraction → xxhash64 edges → CSR adjacency → 5-superstep
    PageRank; returns top-20 (vertex, pr, outdeg). Exercises scan, UDF,
    explode, shuffle, agg, join, and the superstep loop in one plan."""
    from pyspark.sql import functions as SF

    from webgraph_ans_rs_spark.datagen import synthetic_pages
    from webgraph_ans_rs_spark.operators.extract import extract_text_and_links
    from webgraph_ans_rs_spark.operators.graph_build import edges_from_pages

    pages = synthetic_pages(spark, 500)
    edges = edges_from_pages(extract_text_and_links(pages)).persist()
    verts = (
        edges.select(SF.col("src").alias("vertex"))
        .union(edges.select(SF.col("dst").alias("vertex")))
        .distinct()
    )
    result = pagerank(edges, verts, max_iter=PAGERANK_ITERS, tol=None)
    deg = outdegrees(edges, verts)
    top = (
        result.ranks.join(deg, "vertex")
        .orderBy(F.desc("pr"), F.asc("vertex"))
        .limit(20)
        .localCheckpoint(eager=True)  # materialize so the cache can go
    )
    edges.unpersist()
    return top


# ------------------------- queries -------------------------


def _q_degrees_inout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out- and in-degree reads consolidated under one dir-tagged gate
    (registry-cap consolidation, the successors_layouts pattern); each
    branch is the same per-vertex degree aggregation as before."""
    edges, verts = _graph(spark, sf_dir)
    out = outdegrees(edges, verts).select(
        F.lit("out").alias("dir"), "vertex", F.col("outdeg").alias("deg")
    )
    ind = indegrees(edges, verts).select(
        F.lit("in").alias("dir"), "vertex", F.col("indeg").alias("deg")
    )
    return out.unionByName(ind)


def _q_graph_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global structural summary (nodes/arcs/self-loops/density/avg
    out-degree/reciprocity/out-in assortativity) — the WebGraph
    load-time stats family as one long-form Catalyst plan — plus the
    Newman modularity of the documents.source (host) partition, the
    community-quality statistic of a crawl."""
    from webgraph_ans_rs_spark.operators.graphstats import (
        graph_global_stats,
        partition_modularity,
    )

    edges, verts = _graph(spark, sf_dir)
    hosts = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("vertex"),
        F.col("source").alias("grp"),
    )
    q = partition_modularity(edges, hosts).select(
        F.lit("modularity_hosts").alias("metric"), "value"
    )
    return graph_global_stats(edges, verts).unionByName(q)


def _q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, verts = _graph(spark, sf_dir)
    return degree_distribution(edges, verts)


def _q_successors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSR adjacency rendered as a canonical comma-joined sorted string so
    the value-hash is representation-independent across engines."""
    edges, _ = _graph(spark, sf_dir)
    adj = build_csr_adjacency(edges)
    return adj.select(
        F.col("src").alias("vertex"),
        F.array_join(F.transform("dsts", lambda x: x.cast("string")), ",").alias("succs"),
    )


def _q_num_nodes_arcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, verts = _graph(spark, sf_dir)
    return verts.agg(F.count("*").alias("num_nodes")).crossJoin(
        edges.agg(F.count("*").alias("num_arcs"))
    )


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, verts = _graph(spark, sf_dir)
    result = pagerank(edges, verts, max_iter=PAGERANK_ITERS, tol=None)
    return result.ranks.select("vertex", F.round("pr", 8).alias("pr"))


def _q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank: arc transition probability = weight share
    wt/Σwt with the deterministic int-exact weighting
    wt = 1 + ((src%97) + 3*(dst%97)) % 5, 5 fixed iterations — the
    anchor-text/link-multiplicity variant a web-graph pipeline runs
    beside the uniform kernel."""
    from webgraph_ans_rs_spark.operators.pagerank import pagerank_weighted

    edges, verts = _graph(spark, sf_dir)
    ew = edges.select(
        "src",
        "dst",
        (
            F.lit(1)
            + ((F.col("src") % 97) + F.lit(3) * (F.col("dst") % 97)) % 5
        )
        .cast("double")
        .alias("wt"),
    )
    res = pagerank_weighted(ew, verts, damping=0.85, num_iter=PAGERANK_ITERS)
    return res.ranks.select("vertex", F.round("pr", 6).alias("pr"))


def _q_successors_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hub-segmented CSR flattened back to canonical successor strings —
    proves build_csr_segments preserves exact adjacency semantics under the
    same oracle as `successors` (max_segment=4 forces real splitting: the
    derived graph's outdegrees are ~7)."""
    from webgraph_ans_rs_spark.operators.graph_build import build_csr_segments

    edges, _ = _graph(spark, sf_dir)
    seg = build_csr_segments(edges, max_segment=4)
    return (
        seg.select("src", F.explode("dsts").alias("dst"))
        .groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("dsts"))
        .select(
            F.col("src").alias("vertex"),
            F.array_join(F.transform("dsts", lambda x: x.cast("string")), ",").alias("succs"),
        )
    )


def _q_successors_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-coded CSR (dsts → [first−src, gap…]) round-tripped through
    decode — the storage layout that closes the bits/link gap (BV residual
    semantics, /root/reference/src/bvgraph/mod.rs:13-23) proven lossless
    under the same oracle as `successors`."""
    from webgraph_ans_rs_spark.operators.graph_build import decode_gaps, encode_gaps

    edges, _ = _graph(spark, sf_dir)
    adj = decode_gaps(encode_gaps(build_csr_adjacency(edges)))
    return adj.select(
        F.col("src").alias("vertex"),
        F.array_join(F.transform("dsts", lambda x: x.cast("string")), ",").alias("succs"),
    )


def _q_successors_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-copy-coded CSR (the LAST BV lever: lists coded as
    copy-blocks against a window predecessor + gap-coded residuals,
    reference semantics /root/reference/src/bvgraph/mod.rs:13-23)
    round-tripped through decode — proven lossless under the same oracle
    as `successors`. Measured on the real cnr-2000: 4.03 bits/link vs
    6.86 for plain gaps (BENCH storage.cnr2000)."""
    from webgraph_ans_rs_spark.operators.refcodec import decode_refs, encode_refs

    edges, _ = _graph(spark, sf_dir)
    adj = decode_refs(encode_refs(build_csr_adjacency(edges), num_buckets=8))
    return adj.select(
        F.col("src").alias("vertex"),
        F.array_join(F.transform("dsts", lambda x: x.cast("string")), ",").alias("succs"),
    )


def _q_successors_bitpacked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gamma/zeta BIT-packed ref layout (operators/bitpack.py — the
    below-parquet entropy coding that reads 2.76 bits/link on the real
    cnr-2000 vs the reference's published 2.897) round-tripped through
    decode — proven lossless under the same oracle as `successors`.
    chunk=64 forces multiple chunks at gate scale so window resets are
    exercised."""
    from webgraph_ans_rs_spark.operators.bitpack import (
        decode_refs_bitpacked,
        encode_refs_bitpacked,
    )

    edges, _ = _graph(spark, sf_dir)
    packed = encode_refs_bitpacked(
        build_csr_adjacency(edges), num_buckets=8, chunk=64
    )
    return decode_refs_bitpacked(packed).select(
        F.col("src").alias("vertex"),
        F.array_join(F.transform("dsts", lambda x: x.cast("string")), ",").alias(
            "succs"
        ),
    )


SUCC_LAYOUT_TAGS = ("segmented", "gaps", "refs", "bitpacked")


def _q_successors_layouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL alternate storage layouts round-tripped to canonical successor
    strings in one tagged union — one registry slot gates them all (the
    driver's correctness sweep stops at 50 rows; round 4 shipped 51
    registered queries and the 51st got no row). Each branch must
    reproduce the exact adjacency, so they share the base oracle
    cross-tagged (oracles.successors_layouts_sql)."""
    branches = {
        "segmented": _q_successors_segmented,
        "gaps": _q_successors_gaps,
        "refs": _q_successors_refs,
        "bitpacked": _q_successors_bitpacked,
    }
    out = None
    for tag in SUCC_LAYOUT_TAGS:
        df = branches[tag](spark, sf_dir).select(
            F.lit(tag).alias("layout"), "vertex", "succs"
        )
        out = df if out is None else out.unionByName(df)
    return out


def _q_pagerank_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pagerank_5iter + pagerank_layout consolidated under one mode-tagged
    gate (registry-cap consolidation): 'fixed5' = the flagship
    fixed-iteration kernel at 8dp, 'layout' = the stats-pass layout path
    (segmented CSR + explicit shuffle partitions) at 6dp; each branch
    keeps its original oracle unroll."""
    fixed = _q_pagerank(spark, sf_dir).select(
        F.lit("fixed5").alias("mode"), "vertex", "pr"
    )
    layout = _q_pagerank_layout(spark, sf_dir).select(
        F.lit("layout").alias("mode"), "vertex", "pr"
    )
    return fixed.unionByName(layout)


def _q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary (term, df, tf) top-500 by (tf desc, term) — the
    tokenizer-training / idf-table primitive, integer-exact."""
    from webgraph_ans_rs_spark.operators.textstats import vocab_stats

    return vocab_stats(_docs(spark, sf_dir), top_n=500)


def _q_pagerank_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stats-pass->layout-driven PageRank path under the driver gate:
    segmented CSR + explicit shuffle partitions; same unrolled oracle,
    rounded 6dp (segment gathers change float summation order by ~1e-16
    relative, far below the rounding)."""
    edges, verts = _graph(spark, sf_dir)
    result = pagerank(
        edges, verts, max_iter=PAGERANK_ITERS, tol=None,
        shuffle_partitions=16, max_segment=4,
    )
    return result.ranks.select("vertex", F.round("pr", 6).alias("pr"))


PR_CONV_DAMPING = 0.5  # geometric rate ~0.5/iter → tol=1e-6 in ~20 iters
PR_CONV_TOL = 1e-6
PR_CONV_MAX_ITER = 35


def _q_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence-mode PageRank (the tol/L1-delta loop the bench headline
    advertises) under the oracle gate: runs until L1 delta <= 1e-6 on the
    clustered graph and reports the iteration count alongside the scores —
    the oracle unrolls the same stopping rule, so agreement gates both the
    converged values AND iterations-to-convergence. Engine/oracle L1 sums
    differ only ~1e-15 relative while consecutive deltas differ ~2×, so the
    threshold comparison can't flip between engines."""
    edges, verts = _clustered(spark, sf_dir)
    result = pagerank(
        edges,
        verts,
        damping=PR_CONV_DAMPING,
        max_iter=PR_CONV_MAX_ITER,
        tol=PR_CONV_TOL,
    )
    return result.ranks.select(
        "vertex",
        F.round("pr", 6).alias("pr"),
        F.lit(result.iterations).cast("long").alias("iters"),
    )


def _q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, verts = _clustered(spark, sf_dir)
    return connected_components(edges, verts)


def _q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, verts = _clustered(spark, sf_dir)
    return label_propagation(edges, verts, num_iter=LP_ITERS)


LP_CONV_MAX_ITER = 8  # stabilizes in 3 at every SF — 2.7× headroom


def _q_label_propagation_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence-mode LP (run-to-stability with self-vote damping) under
    the oracle gate: labels at the first superstep that changes nothing,
    plus iterations-to-stability — the engine raises rather than return an
    unstable labeling, and the unrolled oracle replays the same bound (the
    pagerank_converged + kcore gate patterns composed)."""
    from webgraph_ans_rs_spark.operators.labelprop import (
        label_propagation_converged,
    )

    edges, verts = _clustered(spark, sf_dir)
    labels, iters = label_propagation_converged(
        edges, verts, max_iter=LP_CONV_MAX_ITER
    )
    return labels.select(
        "vertex", "label", F.lit(iters).cast("long").alias("iters")
    )


def _q_label_propagation_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both LP modes in one mode-tagged union — fixed-iteration (the
    historical label_propagation_2iter gate, iters pinned at LP_ITERS) and
    run-to-stability (self-vote damping + loud non-convergence raise) —
    the successors_layouts consolidation pattern: one registry slot (the
    driver caps at 50), each branch still value-hashed against its own
    unrolled oracle."""
    fixed = _q_label_propagation(spark, sf_dir).select(
        F.lit("fixed2").alias("mode"),
        "vertex",
        "label",
        F.lit(LP_ITERS).cast("long").alias("iters"),
    )
    conv = _q_label_propagation_converged(spark, sf_dir).select(
        F.lit("converged").alias("mode"), "vertex", "label", "iters"
    )
    return fixed.unionByName(conv)


def _q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _ = _graph(spark, sf_dir)
    return triangle_count(edges)


def _q_triangles_per_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, verts = _graph(spark, sf_dir)
    return triangles_per_vertex(edges, verts)


SIM_QUERY_IDS = list(range(10))


def _q_token_count(spark, sf_dir):
    return ts.token_count(_docs(spark, sf_dir))


def _q_lang_id(spark, sf_dir):
    return ts.lang_id(_docs(spark, sf_dir))


def _q_quality_score(spark, sf_dir):
    return ts.quality_score(_docs(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    return ts.fingerprint(_docs(spark, sf_dir))


def _q_exact_dedup(spark, sf_dir):
    return dd.exact_dedup(_docs(spark, sf_dir))


def _q_ngram_jaccard(spark, sf_dir):
    return dd.ngram_jaccard_pairs(_docs(spark, sf_dir), n_docs=_n_docs(spark, sf_dir))


def _q_minhash_lsh(spark, sf_dir):
    return dd.minhash_lsh_pairs(_docs(spark, sf_dir))


def _q_simhash_modes(spark, sf_dir):
    """64-bit SimHash signatures and Hamming-≤3 duplicate pairs under one
    kind-tagged gate (registry-cap consolidation) — all-BIGINT columns,
    so the tagged union stays hash-exact."""
    docs = _docs(spark, sf_dir)
    sig = dd.simhash(docs).select(
        F.lit("sig").alias("kind"),
        F.col("doc_id").alias("x"),
        F.col("sim_hi").alias("y"),
        F.col("sim_lo").alias("z"),
    )
    pairs = dd.simhash_dup_pairs(docs).select(
        F.lit("pair").alias("kind"),
        F.col("a").alias("x"),
        F.col("b").alias("y"),
        F.col("hamming").alias("z"),
    )
    return sig.unionByName(pairs)


def _q_harmonic_exact(spark, sf_dir):
    """EXACT bounded harmonic centrality on the clustered graph — the
    exact/approx pairing of the NF family (the packed-HLL harmonic gate
    estimates the same statistic on the layouts): per-pair distances via
    level-synchronous expansion, 1/d terms folded in sorted source order
    (the betweenness half-grid discipline)."""
    from webgraph_ans_rs_spark.operators.neighborhood import (
        harmonic_centrality_exact,
    )

    edges, verts = _clustered(spark, sf_dir)
    return harmonic_centrality_exact(edges, verts, NF_MAX_T)


def _q_cosine_neardup(spark, sf_dir):
    """Banded-LSH near-dup over the deterministically enriched embedding
    set (testdata has no true near-dups) — the scale-safe plan; the
    all-pairs form is pytest-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    enriched = sim.neardup_enriched_embeddings(emb)
    return sim.cosine_neardup_pairs_lsh(enriched, dim=EMB_DIM)


def _q_pricing_summary(spark, sf_dir):
    return rel.pricing_summary(load_table(spark, sf_dir, "lineitem"))


def _q_top_customers(spark, sf_dir):
    return rel.top_customers_by_spend(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )


def _q_events_hourly(spark, sf_dir):
    return rel.events_hourly(load_table(spark, sf_dir, "events"))


def _q_sessionize(spark, sf_dir):
    from webgraph_ans_rs_spark.streaming.windows import sessionize

    return sessionize(load_table(spark, sf_dir, "events"), gap="30 minutes")


ANN_METHOD_TAGS = ("exact", "lsh", "ivf")


def _q_ann_topk_methods(spark, sf_dir):
    """All three ANN strategies over the embedding column in one
    method-tagged union — exact brute force (the correctness baseline),
    banded-hyperplane LSH, and IVF-flat with a deterministic sampled
    codebook (the inverted-list scale path). Each method's approximation
    is a deterministic function of the data, so each branch value-hashes
    against its own oracle (the successors_layouts consolidation
    pattern)."""
    emb = load_table(spark, sf_dir, "embeddings")
    branches = {
        "exact": lambda: sim.cosine_topk(emb, SIM_QUERY_IDS),
        "lsh": lambda: sim.lsh_topk(emb, SIM_QUERY_IDS),
        "ivf": lambda: sim.ivf_topk(emb, SIM_QUERY_IDS),
    }
    out = None
    for tag in ANN_METHOD_TAGS:
        df = branches[tag]().select(
            F.lit(tag).alias("method"), "qa", "vb", "cos", "rn"
        )
        out = df if out is None else out.unionByName(df)
    return out


def _q_dense_ids(spark, sf_dir):
    """Dense 0..N-1 relabeling of the vertex universe (reference node ids
    are dense, /root/reference/src/ans/mod.rs:44)."""
    from webgraph_ans_rs_spark.operators.graph_build import dense_ids

    _, verts = _graph(spark, sf_dir)
    return dense_ids(verts)


def _q_multimodal_meta(spark, sf_dir):
    """Binary-payload metadata over documents' text bytes (the testdata has
    no binary column; payload = utf8 bytes, deterministic)."""
    from webgraph_ans_rs_spark.operators.multimodal import attach_payload_meta

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return attach_payload_meta(docs).select(
        "doc_id", "payload_len", "payload_md5", "payload_kind"
    )


def _payload_docs(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        F.col("doc_id").alias("key"), F.col("text").cast("binary").alias("payload")
    )


def _q_dedup_resolve(spark, sf_dir):
    return dd.dedup_resolve(_docs(spark, sf_dir))


def _q_khop_modes(spark, sf_dir):
    """Both GNN-batch-loader sampling shapes under one mode-tagged gate
    (registry-cap consolidation): 'sampled' = deterministic 2-hop
    md5-byte-sampled neighborhoods from every 97th doc; 'capped' =
    GraphSAGE-style fixed fan-out (4/hop) via exact salted two-stage
    top-K (no per-seed window sort in the engine)."""
    from webgraph_ans_rs_spark.operators.sampling import (
        khop_neighbors,
        khop_neighbors_capped,
    )

    edges, _ = _graph(spark, sf_dir)
    seeds = _docs(spark, sf_dir).where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").cast("long").alias("seed")
    )
    sampled = khop_neighbors(edges, seeds, k=2, pct=30).select(
        F.lit("sampled").alias("mode"), "seed", "vertex", "hop"
    )
    capped = khop_neighbors_capped(
        edges, seeds, k=2, pct=30, max_per_hop=4
    ).select(F.lit("capped").alias("mode"), "seed", "vertex", "hop")
    return sampled.unionByName(capped)


def _q_decode_image(spark, sf_dir):
    """mapInPandas decode plumbing, oracle-checked: the deterministic fake
    kernel is md5-derived, so DuckDB reproduces it exactly (features
    excluded: float32 stringification is engine-specific)."""
    from webgraph_ans_rs_spark.operators.multimodal import decode_image_batches

    return decode_image_batches(_payload_docs(spark, sf_dir)).select(
        "key", "kind", "width", "height", "n_channels"
    )


def _q_frame_sample(spark, sf_dir):
    from webgraph_ans_rs_spark.operators.multimodal import frame_sample

    return frame_sample(_payload_docs(spark, sf_dir))


def _q_predecessors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transposed adjacency (WebGraph keeps the transpose alongside every
    graph for backlink queries — the `*-t` datasets of the reference's
    benches): in-neighbor lists as canonical sorted strings."""
    from webgraph_ans_rs_spark.operators.transform import transpose

    edges, _ = _graph(spark, sf_dir)
    adj = build_csr_adjacency(transpose(edges))
    return adj.select(
        F.col("src").alias("vertex"),
        F.array_join(F.transform("dsts", lambda x: x.cast("string")), ",").alias("preds"),
    )


def _q_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized loop-free graph (the WebGraph `simplify` transform) as
    canonical successor strings."""
    from webgraph_ans_rs_spark.operators.transform import simplify

    edges, _ = _graph(spark, sf_dir)
    adj = build_csr_adjacency(simplify(edges))
    return adj.select(
        F.col("src").alias("vertex"),
        F.array_join(F.transform("dsts", lambda x: x.cast("string")), ",").alias("succs"),
    )


def _q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph quotient: page arcs collapsed by documents.source on
    both endpoints with link weights."""
    from webgraph_ans_rs_spark.operators.transform import quotient_graph

    edges, _ = _graph(spark, sf_dir)
    groups = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("vertex"), F.col("source").alias("grp")
    )
    q = quotient_graph(edges, groups)
    return q.select(
        F.col("src_grp").alias("src_host"),
        F.col("dst_grp").alias("dst_host"),
        "links",
    )


NF_MAX_T = 4
HB_P = 6


def _q_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact neighbourhood function NF(t) on the clustered graph (small
    components keep the pair sets and the unrolled reachability oracle
    cheap) — the calibration twin of `hyperball`."""
    from webgraph_ans_rs_spark.operators.neighborhood import (
        neighborhood_function_exact,
    )

    edges, verts = _clustered(spark, sf_dir)
    return neighborhood_function_exact(edges, verts, NF_MAX_T)


def _q_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall (Boldi–Vigna): HLL-register NF estimation — approximate
    but fully deterministic (multiplicative hash + integer bit-length
    rho), so the oracle recomputes the identical registers and estimates
    from the exact reachability sets."""
    from webgraph_ans_rs_spark.operators.neighborhood import hyperball

    edges, verts = _clustered(spark, sf_dir)
    return hyperball(edges, verts, NF_MAX_T, p=HB_P)


def _q_hyperball_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall on the array-packed register layout (the p=10+ scale
    path: one array<int> column, explicit Arrow-batched map-side combine,
    zip_with(greatest) final merge) — bit-identical estimates to the
    column layout at equal p, so it runs under the SAME oracle as
    `hyperball`."""
    from webgraph_ans_rs_spark.operators.neighborhood import hyperball_packed

    edges, verts = _clustered(spark, sf_dir)
    return hyperball_packed(edges, verts, NF_MAX_T, p=HB_P)


def _q_harmonic_centrality_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality on the array-packed register layout — identical
    estimates at equal p, so it runs under the SAME oracle as
    `harmonic_centrality`."""
    from webgraph_ans_rs_spark.operators.neighborhood import (
        harmonic_centrality_packed,
    )

    edges, verts = _clustered(spark, sf_dir)
    return harmonic_centrality_packed(edges, verts, NF_MAX_T, p=HB_P)


HB_P_HIGH = 8  # beyond the column layout's comfort zone — packed-only


def _q_harmonic_centrality_p8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality at p=8 (256 registers) from the PACKED layout —
    the precision tier the column layout stops being sensible at, now
    that the segmented transpose removed the hub-destination ceiling. The
    oracle machinery replays arbitrary p, so this is a full value-hash
    gate, not a rows-only check."""
    from webgraph_ans_rs_spark.operators.neighborhood import (
        harmonic_centrality_packed,
    )

    edges, verts = _clustered(spark, sf_dir)
    return harmonic_centrality_packed(edges, verts, NF_MAX_T, p=HB_P_HIGH)


def _q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic centrality via HyperBall registers — the
    algorithm's flagship application; per-vertex, left-to-right
    accumulation so the oracle replays identical IEEE adds."""
    from webgraph_ans_rs_spark.operators.neighborhood import harmonic_centrality

    edges, verts = _clustered(spark, sf_dir)
    return harmonic_centrality(edges, verts, NF_MAX_T, p=HB_P)


HB_LAYOUT_TAGS = ("column", "packed")
HC_LAYOUT_P = {"column": HB_P, "packed": HB_P, "packed_p8": HB_P_HIGH}


def _q_hyperball_layouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both register layouts (column / packed) in one tagged union — they
    must produce bit-identical estimates at equal p, so one registry slot
    gates both against the cross-tagged oracle (the successors_layouts
    consolidation pattern; the driver's sweep stops at 50 rows)."""
    branches = {"column": _q_hyperball, "packed": _q_hyperball_packed}
    out = None
    for tag in HB_LAYOUT_TAGS:
        df = branches[tag](spark, sf_dir).select(
            F.lit(tag).alias("layout"), "t", "nf_est"
        )
        out = df if out is None else out.unionByName(df)
    return out


def _q_harmonic_layouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality across layouts AND precisions (column p6,
    packed p6 — must match column bit-identically — and packed p8, the
    tier the column layout stops being sensible at) in one tagged gate."""
    branches = {
        "column": _q_harmonic_centrality,
        "packed": _q_harmonic_centrality_packed,
        "packed_p8": _q_harmonic_centrality_p8,
    }
    out = None
    for tag in sorted(HC_LAYOUT_P):
        df = branches[tag](spark, sf_dir).select(
            F.lit(tag).alias("layout"), "vertex", "hc"
        )
        out = df if out is None else out.unionByName(df)
    return out


HITS_ITERS = 3
KCORE_K = 11  # bulk und-degree is 12 at the gate sf → a real peel round
KCORE_MAX_ROUNDS = 16
AA_CENTER_CAP = 64
AA_TOP_N = 200


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities, 3 sum-normalized iterations on the hash
    graph — the second spectral kernel over the same adjacency PageRank
    gathers; unrolled identically by the oracle."""
    from webgraph_ans_rs_spark.operators.hits import hits

    edges, verts = _graph(spark, sf_dir)
    res = hits(edges, verts, num_iter=HITS_ITERS)
    return res.select(
        "vertex", F.round("auth", 6).alias("auth"), F.round("hub", 6).alias("hub")
    )


def _q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peel at k=11: the fixpoint loop must agree with the oracle's
    bounded unroll (the engine RAISES if the bound is hit unconverged, so
    a green row certifies convergence within the unroll)."""
    from webgraph_ans_rs_spark.operators.kcore import kcore

    edges, _ = _graph(spark, sf_dir)
    return kcore(edges, k=KCORE_K, max_rounds=KCORE_MAX_ROUNDS)


def _q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction: top-200 non-adjacent distance-2 pairs,
    hub centers capped at deg 64 (identical cut in the oracle)."""
    from webgraph_ans_rs_spark.operators.linkpred import adamic_adar

    edges, _ = _graph(spark, sf_dir)
    return adamic_adar(edges, center_cap=AA_CENTER_CAP, top_n=AA_TOP_N)


def _q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient 3·T/W — wedges counted as C(deg,2)
    in exact int64 (no wedge enumeration), triangles via the oriented
    join."""
    from webgraph_ans_rs_spark.operators.triangles import transitivity

    edges, _ = _graph(spark, sf_dir)
    return transitivity(edges)


BFS_SEED_MOD = 101


def _q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (the WebGraph bfs-tool analogue): min-hop
    distances within NF_MAX_T from the deterministic seed set
    vertex % 101 == 0, on the clustered graph."""
    from webgraph_ans_rs_spark.operators.bfs import bfs_distances

    edges, verts = _clustered(spark, sf_dir)
    seeds = verts.where(F.col("vertex") % BFS_SEED_MOD == 0)
    return bfs_distances(edges, seeds, NF_MAX_T)


def _q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled k-bounded Brandes betweenness (Brandes & Pich 2007): the
    dependency sum from the deterministic seed set vertex % 101 == 0,
    shortest paths truncated at NF_MAX_T hops, on the main hashed graph
    (branching ~7 with 16 hub destinations — non-trivial sigma)."""
    from webgraph_ans_rs_spark.operators.betweenness import betweenness_sampled

    edges, verts = _graph(spark, sf_dir)
    seeds = verts.where(F.col("vertex") % BFS_SEED_MOD == 0)
    return betweenness_sampled(edges, seeds, NF_MAX_T)


def _q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank-shape personalized PageRank: teleport restricted to the
    deterministic seed set vertex % 101 == 0, 5 iterations, clustered
    graph (non-seed components correctly drain to 0)."""
    from webgraph_ans_rs_spark.operators.pagerank import personalized_pagerank

    edges, verts = _clustered(spark, sf_dir)
    seeds = verts.where(F.col("vertex") % BFS_SEED_MOD == 0)
    pr = personalized_pagerank(edges, verts, seeds, damping=0.85, num_iter=5)
    return pr.select("vertex", F.round("pr", 6).alias("pr"))


PPR_CONV_DAMPING = 0.5
PPR_CONV_TOL = 1e-6
PPR_CONV_MAX_ITER = 35


def _q_ppr_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence-mode personalized PageRank (tol/L1 loop on the
    single-exchange superstep) — oracle unrolls the identical stopping
    rule, so agreement gates the converged values AND
    iterations-to-convergence (the pagerank_converged pattern applied to
    the personalized vector; damping 0.5 keeps the unroll depth at 35)."""
    from webgraph_ans_rs_spark.operators.pagerank import (
        personalized_pagerank_converged,
    )

    edges, verts = _clustered(spark, sf_dir)
    seeds = verts.where(F.col("vertex") % BFS_SEED_MOD == 0)
    pr, iters = personalized_pagerank_converged(
        edges,
        verts,
        seeds,
        damping=PPR_CONV_DAMPING,
        max_iter=PPR_CONV_MAX_ITER,
        tol=PPR_CONV_TOL,
    )
    return pr.select(
        "vertex",
        F.round("pr", 6).alias("pr"),
        F.lit(iters).cast("long").alias("iters"),
    )


def _q_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF's headline statistic (the 'four degrees of separation'
    measurement): interpolated hop count covering 90% of reachable pairs,
    from the same deterministic HLL registers."""
    from webgraph_ans_rs_spark.operators.neighborhood import effective_diameter

    edges, verts = _clustered(spark, sf_dir)
    return effective_diameter(edges, verts, NF_MAX_T, p=HB_P, q=0.9)


def _q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (trim + forward-max coloring +
    backward sweep) on the clustered graph; scc_id = MIN member."""
    from webgraph_ans_rs_spark.operators.scc import strongly_connected_components

    edges, verts = _clustered(spark, sf_dir)
    return strongly_connected_components(edges, verts)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "token_count": _q_token_count,
        "lang_id": _q_lang_id,
        "quality_score": _q_quality_score,
        "fingerprint": _q_fingerprint,
        "exact_dedup": _q_exact_dedup,
        "ngram_jaccard": _q_ngram_jaccard,
        "minhash_lsh": _q_minhash_lsh,
        "simhash_modes": _q_simhash_modes,
        "ann_topk_methods": _q_ann_topk_methods,
        "cosine_neardup": _q_cosine_neardup,
        "pricing_summary": _q_pricing_summary,
        "top_customers": _q_top_customers,
        "events_hourly": _q_events_hourly,
        "sessionize": _q_sessionize,
        "harmonic_exact": _q_harmonic_exact,
        "multimodal_meta": _q_multimodal_meta,
        "decode_image": _q_decode_image,
        "frame_sample": _q_frame_sample,
        "dedup_resolve": _q_dedup_resolve,
        "khop_modes": _q_khop_modes,
        "dense_ids": _q_dense_ids,
        "degrees_inout": _q_degrees_inout,
        "graph_global_stats": _q_graph_global_stats,
        "betweenness": _q_betweenness,
        "degree_distribution": _q_degree_distribution,
        "successors": _q_successors,
        "successors_layouts": _q_successors_layouts,
        "num_nodes_arcs": _q_num_nodes_arcs,
        "pagerank_modes": _q_pagerank_modes,
        "pagerank_converged": _q_pagerank_converged,
        "vocab_stats": _q_vocab_stats,
        "connected_components": _q_connected_components,
        "label_propagation_modes": _q_label_propagation_modes,
        "pagerank_weighted": _q_pagerank_weighted,
        "triangles_per_vertex": _q_triangles_per_vertex,
        "transitivity": _q_transitivity,
        "predecessors": _q_predecessors,
        "simplify": _q_simplify,
        "host_graph": _q_host_graph,
        "neighborhood_function": _q_neighborhood_function,
        "hyperball_layouts": _q_hyperball_layouts,
        "harmonic_layouts": _q_harmonic_layouts,
        "hits": _q_hits,
        "kcore": _q_kcore,
        "adamic_adar": _q_adamic_adar,
        "bfs_distances": _q_bfs_distances,
        "personalized_pagerank": _q_personalized_pagerank,
        "ppr_converged": _q_ppr_converged,
        "effective_diameter": _q_effective_diameter,
        "scc": _q_scc,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "token_count": op.token_count_sql(),
        "lang_id": op.lang_id_sql(),
        "quality_score": op.quality_score_sql(),
        "fingerprint": op.fingerprint_sql(),
        "exact_dedup": op.exact_dedup_sql(),
        "ngram_jaccard": op.ngram_jaccard_sql(),
        "minhash_lsh": op.minhash_lsh_sql(),
        "simhash_modes": (
            "SELECT 'sig' AS kind, doc_id AS x, sim_hi AS y, sim_lo AS z"
            " FROM (" + op.simhash_sql() + ")"
            " UNION ALL SELECT 'pair' AS kind, a AS x, b AS y, hamming AS z"
            " FROM (" + op.simhash_pairs_sql() + ")"
        ),
        "harmonic_exact": oracles.harmonic_exact_sql(NF_MAX_T),
        "ann_topk_methods": op.ann_topk_methods_sql(SIM_QUERY_IDS, EMB_DIM),
        "cosine_neardup": op.cosine_neardup_lsh_sql(
            sim.NEARDUP_THRESHOLD,
            sim.NEARDUP_BANDS,
            sim.NEARDUP_PLANES_PER_BAND,
            EMB_DIM,
            sim.NEARDUP_DUP_MOD,
            sim.NEARDUP_DUP_OFFSET,
            sim.NEARDUP_DUP_DELTA,
        ),
        "pricing_summary": op.pricing_summary_sql(),
        "top_customers": op.top_customers_sql(),
        "events_hourly": op.events_hourly_sql(),
        "sessionize": op.sessionize_sql(30),
        "multimodal_meta": op.multimodal_meta_sql(),
        "decode_image": op.decode_image_sql(),
        "frame_sample": op.frame_sample_sql(),
        "dedup_resolve": op.dedup_resolve_sql(),
        "khop_modes": (
            "SELECT 'sampled' AS mode, seed, vertex, hop FROM ("
            + op.khop_sql(dg.hash_edges_sql())
            + ") UNION ALL SELECT 'capped' AS mode, seed, vertex, hop FROM ("
            + op.khop_capped_sql(dg.hash_edges_sql(), max_per_hop=4)
            + ")"
        ),
        "dense_ids": (
            "SELECT vertex, CAST(ROW_NUMBER() OVER (ORDER BY vertex) - 1 AS BIGINT)"
            " AS dense_id FROM (SELECT CAST(doc_id AS BIGINT) AS vertex FROM documents)"
        ),
        "degrees_inout": oracles.degrees_inout_sql(),
        "graph_global_stats": (
            "SELECT * FROM ("
            + oracles.graph_global_stats_sql()
            + ") UNION ALL SELECT * FROM ("
            + oracles.partition_modularity_sql()
            + ")"
        ),
        "betweenness": oracles.betweenness_sql(NF_MAX_T, BFS_SEED_MOD),
        "degree_distribution": oracles.degree_distribution_sql(),
        "successors": oracles.successors_sql(),
        "successors_layouts": oracles.successors_layouts_sql(SUCC_LAYOUT_TAGS),
        "num_nodes_arcs": oracles.num_nodes_arcs_sql(),
        "pagerank_modes": (
            "SELECT 'fixed5' AS mode, vertex, pr FROM ("
            + oracles.pagerank_sql(PAGERANK_ITERS)
            + ") UNION ALL SELECT 'layout' AS mode, vertex, pr FROM ("
            + oracles.pagerank_sql(PAGERANK_ITERS, round_dp=6)
            + ")"
        ),
        "vocab_stats": op.vocab_stats_sql(500),
        "pagerank_converged": oracles.pagerank_converged_sql(
            PR_CONV_MAX_ITER, PR_CONV_DAMPING, PR_CONV_TOL
        ),
        "connected_components": oracles.connected_components_sql(),
        "label_propagation_modes": oracles.label_propagation_modes_sql(
            LP_ITERS, LP_CONV_MAX_ITER
        ),
        "pagerank_weighted": oracles.pagerank_weighted_sql(PAGERANK_ITERS),
        "triangles_per_vertex": oracles.triangles_per_vertex_sql(),
        "transitivity": oracles.transitivity_sql(),
        "predecessors": oracles.predecessors_sql(),
        "simplify": oracles.simplify_sql(),
        "host_graph": oracles.host_graph_sql(),
        "neighborhood_function": oracles.neighborhood_function_sql(NF_MAX_T),
        "hyperball_layouts": oracles.hyperball_layouts_sql(
            HB_LAYOUT_TAGS, NF_MAX_T, HB_P
        ),
        "harmonic_layouts": oracles.harmonic_layouts_sql(HC_LAYOUT_P, NF_MAX_T),
        "hits": oracles.hits_sql(HITS_ITERS),
        "kcore": oracles.kcore_sql(KCORE_K, KCORE_MAX_ROUNDS),
        "adamic_adar": oracles.adamic_adar_sql(AA_CENTER_CAP, AA_TOP_N),
        "bfs_distances": oracles.bfs_distances_sql(NF_MAX_T, BFS_SEED_MOD),
        "personalized_pagerank": oracles.personalized_pagerank_sql(
            5, 0.85, BFS_SEED_MOD
        ),
        "ppr_converged": oracles.personalized_pagerank_converged_sql(
            PPR_CONV_MAX_ITER, PPR_CONV_DAMPING, BFS_SEED_MOD, PPR_CONV_TOL
        ),
        "effective_diameter": oracles.effective_diameter_sql(NF_MAX_T, HB_P, 0.9),
        "scc": oracles.scc_sql(dg.CLUSTER_GROUP),
    }
