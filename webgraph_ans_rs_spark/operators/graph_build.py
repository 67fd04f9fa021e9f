"""Edge-table and CSR-adjacency construction — the engine's "write path".

Reference analogue: ``ANSBvGraph::store`` runs a stats pass, then a layout
pass, then serializes pointers for random access
(/root/reference/src/bvgraph/random_access.rs:91-222). Here:

* stats pass  = degree histogram (one aggregation) used to size buckets;
* layout pass = repartition by ``src`` + sort within partitions, then
  ``groupBy(src).agg(sort_array(collect_list(dst)))`` — per-node sorted
  successor lists, the DataFrame CSR (sorted lists are a format invariant
  in the reference: tests/test_bvgraph.rs:88-91);
* serialize   = parquet written bucketed-by-src so a point lookup
  (``successors(u)``) prunes to one bucket — the stand-in for the
  Elias-Fano pointer index (random_access.rs:225-236).

At 100 TB the layout pass is one shuffle keyed by src; bucket count comes
from the stats pass so each bucket is ~128-256 MB on disk.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def hash_vertices(df: DataFrame, url_col: str = "url") -> DataFrame:
    """(url, vertex) — int64 id = xxhash64(url) (input_hint). Deterministic,
    collision probability ~n²/2⁶⁵ (≈1e-6 even at 1e9 urls per shard);
    dense 0..N-1 ids are available via zipWithIndex-style ranking when a
    downstream consumer needs them, but hashing avoids a global sort."""
    return df.select(url_col).distinct().select(
        F.col(url_col).alias("url"), F.xxhash64(url_col).alias("vertex")
    )


def edges_from_pages(extracted: DataFrame) -> DataFrame:
    """(src long, dst long) distinct, self-loops dropped, from the
    extraction output (url, outlinks array<string>).

    Plan: explode (narrow) → two hash joins against the vertex map is
    avoided entirely — both endpoints are hashed directly with xxhash64,
    so the only shuffle is the final dedup aggregation keyed (src, dst).
    Dangling urls (linked-to but never crawled) still get stable ids.
    """
    return (
        extracted.select(
            F.xxhash64("url").alias("src"),
            F.explode("outlinks").alias("dst_url"),
        )
        .select("src", F.xxhash64("dst_url").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def choose_bucket_count(num_edges: int, target_edges_per_bucket: int = 4_000_000) -> int:
    """Driver-side layout parameter choice from the stats pass — the engine's
    analogue of the reference's (fidelity, radix, frame-size) search
    (model4encoder_builder.rs:80-271), collapsed to one knob."""
    return max(1, 2 ** math.ceil(math.log2(max(1, num_edges / target_edges_per_bucket))))


def build_csr_adjacency(edges: DataFrame, num_buckets: int | None = None) -> DataFrame:
    """(src, dsts array<long> sorted ascending, outdeg int).

    ``sort_array`` enforces the BvGraph sorted-successor invariant at the
    Spark layer rather than relying on shuffle ordering.
    """
    if num_buckets is not None:
        edges = edges.repartition(num_buckets, "src")
    return edges.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("dsts"),
        F.count("*").cast("int").alias("outdeg"),
    )


def write_adjacency_table(
    spark: SparkSession,
    edges: DataFrame,
    path: str,
    num_buckets: int | None = None,
    table_name: str = "adj",
) -> None:
    """Persist the CSR as a bucketed, sorted parquet table.

    ``bucketBy(src)`` + ``sortBy(src)`` gives bucket-pruned point lookups:
    the successors(u) path touches one bucket file, the analogue of the
    reference's O(1) EF-select jump (bvgraph_decoder_factory.rs:46-58).
    The table is registered as ``table_name`` in the session catalog with
    its files at ``path``; a catalog error propagates to the caller.
    """
    if num_buckets is None:
        num_buckets = choose_bucket_count(edges.count())
    (
        build_csr_adjacency(edges, num_buckets)
        .write.mode("overwrite")
        .bucketBy(num_buckets, "src")
        .sortBy("src")
        .option("path", path)
        .saveAsTable(table_name)
    )


def build_csr_segments(edges: DataFrame, max_segment: int = 4096) -> DataFrame:
    """(src, dsts array<long> sorted, outdeg int) with hub sources split
    across multiple rows of ≤ ~max_segment successors each.

    The skew-safe CSR: a hub with 1e7 successors would otherwise (a) build
    one giant array row on a single reducer and (b) explode its entire
    fan-out inside a single task every superstep. Segmenting assigns each
    edge a deterministic segment ``pmod(xxhash64(dst), ceil(outdeg/max))``
    BEFORE the collect, so no stage ever materializes or scans the full hub
    list in one task. ``outdeg`` on every segment row is the vertex's TOTAL
    outdegree (so 1/outdeg weights stay correct); segment sizes are
    hash-balanced around max_segment.

    This is the stats-pass→layout loop closed (reference: the frequency
    pass drives encoding parameters, model4encoder_builder.rs:80-271):
    plans/layout.py chooses max_segment from the degree histogram.
    """
    deg = edges.groupBy("src").agg(F.count("*").cast("int").alias("outdeg"))
    nseg = F.greatest(
        F.lit(1), F.ceil(F.col("outdeg") / F.lit(max_segment)).cast("int")
    )
    return (
        edges.join(deg, "src")
        .withColumn("_seg", F.pmod(F.xxhash64("dst"), nseg))
        .groupBy("src", "_seg")
        .agg(
            F.sort_array(F.collect_list("dst")).alias("dsts"),
            F.first("outdeg").alias("outdeg"),
        )
        .select("src", "dsts", "outdeg")
    )


def encode_gaps(adj: DataFrame, int_gaps: bool = False, first_from_src: bool = True) -> DataFrame:
    """CSR with successor lists gap-coded: ``dsts`` → ``[first − src, gap,
    gap…]`` (``[first, gap…]`` when ``first_from_src=False``).

    This is the half of the reference's BV win that IS expressible above
    parquet: residuals are stored gap-coded because the lists are sorted,
    and the FIRST residual is stored relative to the node itself — signed —
    because web pages link near themselves (/root/reference/src/bvgraph/
    mod.rs:13-23, FirstResidual vs Residual semantics). After an
    order-preserving dense relabel the entries are small signed ints that
    parquet v2 DELTA_BINARY_PACKED + zstd compress far better than raw
    64-bit ids (plans/storage.py measures the difference). Pure column
    transform — no shuffle, no Python.

    ``int_gaps=True`` additionally narrows the arrays to int32 — valid when
    ids are dense (N < 2^31), which the dense_ids relabel guarantees for
    any graph below ~2e9 vertices per id-space shard.
    """
    prev = F.col("dsts")
    base = F.col("src") if first_from_src else F.lit(0).cast("long")
    # dense ids (< 2^31) can't overflow plain long subtraction — skip the
    # wrap-safe decimal path in the bulk-write case; full-width hashed ids
    # need mod-2^64 wraparound to stay ANSI-safe AND lossless
    sub = (lambda a, b: a - b) if int_gaps else _wrap_sub64
    gaps = F.transform(
        "dsts",
        lambda x, i: F.when(i == F.lit(0), sub(x, base)).otherwise(
            sub(x, F.element_at(prev, i))
        ),
    )
    if int_gaps:
        gaps = gaps.cast("array<int>")
    others = [c for c in adj.columns if c != "dsts"]
    return adj.select(*others, gaps.alias("dsts_gaps"))


from decimal import Decimal as _Dec  # noqa: E402


def _wrap64(dec_col) -> F.Column:
    """Fold a decimal in (−2⁶⁴, 2·2⁶³) back into long range — the mod-2⁶⁴
    representative, i.e. two's-complement wraparound."""
    two64 = F.lit(_Dec(2**64)).cast("decimal(38,0)")
    max_l = F.lit(2**63 - 1).cast("decimal(38,0)")
    min_l = F.lit(-(2**63)).cast("decimal(38,0)")
    return (
        F.when(dec_col > max_l, dec_col - two64)
        .when(dec_col < min_l, dec_col + two64)
        .otherwise(dec_col)
        .cast("long")
    )


def _wrap_sub64(a, b) -> F.Column:
    """a − b with mod-2⁶⁴ wraparound (ANSI-safe): full-width 64-bit hashed
    ids can differ by more than 2⁶³−1, which ANSI long subtraction rejects;
    wraparound subtraction is still exactly invertible by wraparound
    addition, so the codec stays lossless on ANY long ids. (Dense-relabeled
    ids never hit the wrap branches — the comparisons fold to a no-op.)"""
    return _wrap64(a.cast("decimal(38,0)") - b.cast("decimal(38,0)"))


def _wrap_add64(a, b) -> F.Column:
    return _wrap64(a.cast("decimal(38,0)") + b.cast("decimal(38,0)"))


def decode_gaps(adj_gaps: DataFrame, first_from_src: bool = True) -> DataFrame:
    """Exact inverse of ``encode_gaps``: prefix-sum each gap list back to the
    sorted successor array. Per-list O(n) adds but O(n²) array copies — at
    scale the lists are bounded by build_csr_segments, so decode cost per
    row stays ~max_segment."""
    base = F.col("src") if first_from_src else F.lit(0).cast("long")
    decoded = F.aggregate(
        F.col("dsts_gaps"),
        F.struct(
            base.cast("long").alias("acc"),
            F.array().cast("array<long>").alias("out"),
        ),
        lambda s, x: F.struct(
            _wrap_add64(s.acc, x).alias("acc"),
            F.concat(s.out, F.array(_wrap_add64(s.acc, x))).alias("out"),
        ),
        lambda s: s.out,
    )
    others = [c for c in adj_gaps.columns if c != "dsts_gaps"]
    return adj_gaps.select(*others, decoded.alias("dsts"))


def dense_ids(
    verts: DataFrame, col: str = "vertex", num_partitions: int | None = None
) -> DataFrame:
    """(vertex, dense_id) with dense_id = rank 0..N-1 in ascending ``col``
    order — the reference's dense node universe 0..N-1
    (/root/reference/src/ans/mod.rs:44) recovered from hashed ids.
    ``num_partitions`` (e.g. LayoutPlan.shuffle_partitions from the stats
    pass) sizes the range partitioning; defaults to the session setting.

    NOTE: ranking by ``col`` only inherits crawl locality if ``col`` itself
    is ordered like the crawl — rank URLs (lexicographic host order), not
    their hashes, when the dense ids feed the gap-coded storage layout
    (hash order is a random permutation that destroys gap locality;
    measured in BENCH_r03 storage.locality).

    Scale shape: window-free global ranking. Range-partition + sort (one
    shuffle), materialize, collect the P per-partition counts (P rows, not
    data), broadcast cumulative offsets back, and rank locally inside each
    partition — no single-partition global window, no driver-side data.
    Input values must be distinct (vertex ids are).
    """
    rng = (
        (lambda df: df.repartitionByRange(num_partitions, "vertex"))
        if num_partitions
        else (lambda df: df.repartitionByRange("vertex"))
    )
    src = (
        rng(verts.select(F.col(col).alias("vertex")))
        .sortWithinPartitions("vertex")
        .withColumn("_pid", F.spark_partition_id())
        # materialize so the counts action and the ranking action see the
        # exact same (sampled) range boundaries
        .localCheckpoint(eager=True)
    )
    counts = {r._pid: r.n for r in src.groupBy("_pid").agg(F.count("*").alias("n")).collect()}
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    spark = verts.sparkSession
    off = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "_pid int, _offset long")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_pid").orderBy("vertex")
    return (
        src.join(off, "_pid")
        .withColumn("dense_id", F.col("_offset") + F.row_number().over(w) - 1)
        .select("vertex", F.col("dense_id").cast("long"))
    )


def successors(adj: DataFrame, u: int) -> DataFrame:
    """Random-access successor lookup — filter pushes down to the bucketed
    scan (SURVEY.md §3.2)."""
    return adj.where(F.col("src") == F.lit(u)).select("src", "dsts")


def successors_batch(adj: DataFrame, nodes: DataFrame) -> DataFrame:
    """Batch random access: broadcast semi-join of a (small) node list
    against the adjacency table — the 10M-random-nodes benchmark shape
    (/root/reference/examples/bench_random_access.rs:28-41)."""
    return adj.join(F.broadcast(nodes), adj["src"] == nodes["vertex"], "left_semi")
