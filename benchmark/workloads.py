"""The three benchmark workloads.

Each workload has ``prepare(spark, seed, dir)``, which generates the seeded
inputs, writes them to parquet and returns the context with the ground
truth, and ``run_round(b, ctx)``, which makes every timed engine call once
through ``b.call`` and checks every output through ``b.check``. Timed calls
read only the prepared parquet (or what an earlier call of the same round
wrote). Checks run outside the timed spans, except where the check's
aggregation is the action that consumes a lazy result.

Why each workload exists (see README.md for the layer → metric map):

* ``ingest_serve``: HTML parse UDF, edge build, adjacency write, full scans
  and batched point lookups — the only workload on ``extract`` and
  ``graph_build``; kernels and codec stay idle.
* ``rank_kernels``: PageRank, connected components, label propagation and
  triangles on a Zipf+hub graph — exchange- and barrier-bound plans with no
  Python UDFs; parse and codec stay idle.
* ``archive_codec``: bit-packed and columnar reference codecs on a
  crawl-locality graph — the Python/numpy codec; kernels and shuffle-heavy
  plans stay idle.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

import gen

from webgraph_ans_rs_spark.operators.bitpack import (
    decode_refs_bitpacked,
    encode_refs_bitpacked,
    successors_from_bitpacked_batch,
)
from webgraph_ans_rs_spark.operators.components import connected_components
from webgraph_ans_rs_spark.operators.extract import extract_text_and_links
from webgraph_ans_rs_spark.operators.graph_build import (
    edges_from_pages,
    successors_batch,
    write_adjacency_table,
)
from webgraph_ans_rs_spark.operators.labelprop import label_propagation
from webgraph_ans_rs_spark.operators.pagerank import pagerank
from webgraph_ans_rs_spark.operators.refcodec import decode_refs, encode_refs
from webgraph_ans_rs_spark.operators.triangles import triangle_count

# sizes, chosen so one round takes a few seconds at local[4] (README.md)
INGEST_PAGES = 20_000
INGEST_PROBES = 2_000
INGEST_REPEATS = 3  # scans and probe batches per round
RANK_VERTICES = 20_000
PR_SUPERSTEPS = 5
LP_ITERATIONS = 2
ARCHIVE_VERTICES = 1_500
ARCHIVE_PROBES = 150
ARCHIVE_BUCKETS = 8
HC_WINDOW, HC_MAX_REF = 16, 2_000_000_000


def _arc_stats(df):
    """(lists, arcs) of a (src, dsts) frame."""
    row = df.agg(F.count("*"), F.coalesce(F.sum(F.size("dsts")), F.lit(0))).first()
    return int(row[0]), int(row[1])


def _arc_signature(df):
    """(arcs, order-insensitive hash sum) of a (src, dsts) frame."""
    row = (
        df.select("src", F.explode("dsts").alias("dst"))
        .agg(
            F.count("*"),
            F.coalesce(F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)),
        )
        .first()
    )
    return int(row[0]), int(row[1])


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, n))
        for n in os.listdir(path)
        if n.endswith(".parquet")
    )


# -- ingest_serve ---------------------------------------------------------


def prepare_ingest(spark, seed: int, d: str) -> dict:
    pages = f"{d}/pages"
    truth = gen.write_pages(pages, INGEST_PAGES, seed)
    docs = gen.probe_ids(INGEST_PROBES, INGEST_PAGES, seed)
    urls = spark.createDataFrame([(gen.url_of(int(u)),) for u in docs], "url string")
    probes = f"{d}/probes.parquet"
    urls.select(F.xxhash64("url").alias("vertex")).write.parquet(probes)
    outdeg = truth.pop("outdeg")
    truth["lists"] = int((outdeg > 0).sum())
    truth["probe_lists"] = int((outdeg[docs] > 0).sum())
    truth["probe_arcs"] = int(outdeg[docs].sum())
    return {"pages": pages, "probes": probes, "adj": f"{d}/adj", "truth": truth}


def round_ingest(b, ctx: dict) -> None:
    spark, t = b.spark, ctx["truth"]
    pages = spark.read.parquet(ctx["pages"])
    with b.call("extract.extract_text_and_links"):
        ext = extract_text_and_links(pages).localCheckpoint(eager=True)
    row = ext.agg(
        F.sum(F.length("text")), F.sum(F.size("outlinks")), F.count("*")
    ).first()
    b.check(
        "extracted text and links",
        (row[0], row[1], row[2]) == (t["text_chars"], t["outlinks"], INGEST_PAGES),
    )
    with b.call("graph_build.edges_from_pages"):
        edges = edges_from_pages(ext).localCheckpoint(eager=True)
    b.check("distinct edges", edges.count() == t["edges"])
    with b.call("graph_build.write_adjacency_table"):
        write_adjacency_table(spark, edges, ctx["adj"])
    adj = spark.read.parquet(ctx["adj"])
    probes = spark.read.parquet(ctx["probes"])
    for _ in range(INGEST_REPEATS):
        with b.call("graph_build.scan"):
            got = _arc_stats(adj)
        b.check("scan lists and arcs", got == (t["lists"], t["edges"]))
    for _ in range(INGEST_REPEATS):
        with b.call("graph_build.successors_batch", probes=INGEST_PROBES):
            got = _arc_stats(successors_batch(adj, probes))
        b.check("probed lists and arcs", got == (t["probe_lists"], t["probe_arcs"]))


# -- rank_kernels ---------------------------------------------------------


def prepare_rank(spark, seed: int, d: str) -> dict:
    src, dst = gen.zipf_hub_edges(RANK_VERTICES, seed)
    gen.write_edges(f"{d}/edges.parquet", src, dst)
    gen.write_vertices(f"{d}/verts.parquet", RANK_VERTICES)
    return {
        "edges": f"{d}/edges.parquet",
        "verts": f"{d}/verts.parquet",
        "truth": {
            "edges": len(src),
            "triangles": gen.triangle_count(src, dst, RANK_VERTICES),
        },
    }


def round_rank(b, ctx: dict) -> None:
    spark, t = b.spark, ctx["truth"]
    edges = spark.read.parquet(ctx["edges"])
    verts = spark.read.parquet(ctx["verts"])
    n = RANK_VERTICES
    with b.call("pagerank.pagerank", edge_steps=t["edges"] * PR_SUPERSTEPS) as span:
        res = pagerank(edges, verts, max_iter=PR_SUPERSTEPS, tol=None)
    span.update(setup_s=res.setup_sec, loop_s=res.loop_sec)
    total, count = res.ranks.agg(F.sum("pr"), F.count("*")).first()
    b.check("ranks sum to 1", count == n and abs(total - 1.0) <= 1e-9)

    with b.call("components.connected_components"):
        cc = connected_components(edges, verts).localCheckpoint(eager=True)
    c1 = cc.select(F.col("vertex").alias("src"), F.col("component").alias("c1"))
    c2 = cc.select(F.col("vertex").alias("dst"), F.col("component").alias("c2"))
    crossing = edges.join(c1, "src").join(c2, "dst").where(F.col("c1") != F.col("c2"))
    b.check("one label per vertex", cc.count() == n)
    b.check("no edge crosses two components", crossing.count() == 0)

    with b.call("labelprop.label_propagation"):
        lp = label_propagation(edges, verts, num_iter=LP_ITERATIONS)
    b.check("one label per vertex", lp.count() == n)

    with b.call("triangles.triangle_count"):
        tri = triangle_count(edges).first()[0]
    b.check("triangle count", tri == t["triangles"])


# -- archive_codec --------------------------------------------------------


def prepare_archive(spark, seed: int, d: str) -> dict:
    n = ARCHIVE_VERTICES
    src, dst = gen.crawl_edges(n, seed)
    csr = f"{d}/csr.parquet"
    gen.write_csr(csr, src, dst)
    outdeg = np.bincount(src, minlength=n)
    probes = gen.probe_ids(ARCHIVE_PROBES, n, seed)
    gen.write_probes(f"{d}/probes.parquet", probes)
    lists, arcs = _arc_stats(spark.read.parquet(csr))
    return {
        "csr": csr,
        "probes": f"{d}/probes.parquet",
        "packed": f"{d}/packed",
        "truth": {
            "lists": lists,
            "signature": _arc_signature(spark.read.parquet(csr)),
            "probe_lists": int((outdeg[probes] > 0).sum()),
            "probe_arcs": int(outdeg[probes].sum()),
        },
        "arcs": arcs,
    }


def round_archive(b, ctx: dict) -> None:
    spark, t, arcs = b.spark, ctx["truth"], ctx["arcs"]
    csr = spark.read.parquet(ctx["csr"])
    with b.call("bitpack.encode_refs_bitpacked"):
        (
            encode_refs_bitpacked(csr, num_buckets=ARCHIVE_BUCKETS)
            .repartition(ARCHIVE_BUCKETS, "bucket")
            .sortWithinPartitions("bucket", "first_src")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(ctx["packed"])
        )
    packed = spark.read.parquet(ctx["packed"])
    payload, lists = packed.agg(F.sum(F.length("payload")), F.sum("n_rows")).first()
    b.check("packed lists", lists == t["lists"])
    b.record(
        "bitpack",
        payload_bytes=payload,
        bits_per_link=8.0 * _parquet_bytes(ctx["packed"]) / arcs,
    )

    with b.call("bitpack.decode_refs_bitpacked"):
        got = _arc_signature(decode_refs_bitpacked(packed))
    b.check("bitpack round trip", got == t["signature"])

    probes = spark.read.parquet(ctx["probes"])
    with b.call("bitpack.successors_from_bitpacked_batch", probes=ARCHIVE_PROBES):
        got = _arc_stats(successors_from_bitpacked_batch(packed, probes))
    b.check("packed probes", got == (t["probe_lists"], t["probe_arcs"]))

    with b.call("bitpack.encode_refs_bitpacked_hc"):
        hc = encode_refs_bitpacked(
            csr, num_buckets=ARCHIVE_BUCKETS, window=HC_WINDOW, max_ref=HC_MAX_REF
        )
        hc_lists = hc.agg(F.sum("n_rows")).first()[0]
    b.check("window-16 lists", hc_lists == t["lists"])

    with b.call("refcodec.encode_refs"):
        enc = encode_refs(csr, num_buckets=ARCHIVE_BUCKETS).localCheckpoint(eager=True)
    with b.call("refcodec.decode_refs"):
        got = _arc_signature(decode_refs(enc))
    b.check("refcodec round trip", got == t["signature"])


# name: (prepare, run_round, warm-up rounds). The kernels' JIT and codegen
# need a second unreported round before their round times settle.
WORKLOADS = {
    "ingest_serve": (prepare_ingest, round_ingest, 1),
    "rank_kernels": (prepare_rank, round_rank, 2),
    "archive_codec": (prepare_archive, round_archive, 1),
}
