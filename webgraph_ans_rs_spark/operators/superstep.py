"""The scatter–gather superstep shared by the PageRank family and HITS.

Every PageRank variant (uniform, personalized, weighted) and both HITS
half-steps are one sparse matrix–vector product over one adjacency
layout — the successor enumeration through which the reference serves
every left- or right-multiplication by the adjacency matrix. One
superstep is:

  scatter:  csr ⋈ scores on src — a V-sized join (one row per source
            with its successor array, precomputed once); the E-sized
            fan-out is a narrow explode AFTER the join.
  gather:   explode output ∪ one zero-contribution row per vertex →
            groupBy(vertex).sum. The zero rows fold the "apply" outer join
            into the same shuffle (IEEE x+0.0 == x keeps values
            bit-identical). Catalyst plans a map-side partial sum, so a hub
            receives pre-combined partials from each upstream partition
            (the skew defence of single-exchange graph engines); AQE skew
            handling re-splits pathological shuffle partitions at runtime.

Co-partitioning contract: the cached CSR is HashPartitioning(src, P) and
the score state HashPartitioning(vertex, P) with the same P. The gather's
groupBy emits exactly that partitioning once AQE partition coalescing is
suspended (``kernel_scope``), and localCheckpoint preserves it into the
next superstep. Both scatter-join sides then satisfy the join's required
distribution and the shuffle_hash hint (build = V-sized scores) removes
the SortMergeJoin sorts, so a superstep plans exactly ONE exchange: the
gather (tests/test_superstep.py asserts the counts).

``cache_scope`` is the one cache mechanism of the loop kernels and
``conf_scope`` the one session-conf override: HyperBall and label
propagation use ``cache_scope`` alone, ``kernel_scope`` adds the
coalescing suspension the scatter–gather kernels need.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


@contextmanager
def cache_scope(release_caches: list | None = None):
    """Yield ``cache(df)``, which persists ``df`` and registers it. On
    exit — failure included — the registered frames are unpersisted. A
    plan probe passes ``release_caches`` to receive them instead: cache
    substitution happens at planning time, so the frames must outlive the
    caller's plan inspection (the caller unpersists them afterwards)."""
    held: list[DataFrame] = []

    def cache(df: DataFrame) -> DataFrame:
        held.append(df.persist())
        return held[-1]

    try:
        yield cache
    except BaseException:
        release_caches = None
        raise
    finally:
        if release_caches is None:
            for df in held:
                df.unpersist()
        else:
            release_caches.extend(held)


@contextmanager
def conf_scope(spark, key: str, value: str):
    """Set session conf ``key`` to ``value`` for the block. On exit —
    failure included — the previous value is restored, or the key is
    unset if it was unset before."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@contextmanager
def kernel_scope(spark, release_caches: list | None = None):
    """``cache_scope`` with AQE partition coalescing suspended, so the
    gather's groupBy keeps the P-way partitioning the next scatter join
    relies on; the flag is restored on exit, failure included."""
    with conf_scope(spark, COALESCE, "false"), cache_scope(release_caches) as cache:
        yield cache


def build_csr(
    cache, edges: DataFrame, p: int, max_segment: int | None = None,
    weighted: bool = False,
) -> tuple[DataFrame, int]:
    """Cached CSR pinned to HashPartitioning(src, p); returns (csr, number
    of distinct sources). ``dsts`` holds the successor ids with ``w`` =
    1/outdeg, or — ``weighted``, from (src, dst, wt) arcs — (dst, wn)
    structs with the per-source weight share wn = wt/Σwt. ``max_segment``
    splits hub lists into ≤ ~max_segment rows
    (graph_build.build_csr_segments).

    ``groupBy("src")`` already emits HashPartitioning(src, P) for the
    session P, so the CSR is re-exchanged only when ``p`` differs or the
    build was segmented (grouped by (src, _seg), which does not satisfy
    the scatter join's distribution); row placement, hence every float
    partial-sum order, is the same either way."""
    if weighted:
        csr = edges.groupBy("src").agg(
            F.collect_list(F.struct(F.col("dst"), F.col("wt"))).alias("prs"),
            F.sum("wt").alias("tw"),
        ).select(
            "src",
            F.transform(
                "prs",
                lambda s: F.struct(
                    s["dst"].alias("dst"), (s["wt"] / F.col("tw")).alias("wn")
                ),
            ).alias("dsts"),
        )
    else:
        if max_segment is not None:
            from .graph_build import build_csr_segments

            csr = build_csr_segments(edges, max_segment).withColumnRenamed(
                "outdeg", "od"
            )
        else:
            csr = edges.groupBy("src").agg(
                F.collect_list("dst").alias("dsts"), F.count("*").alias("od")
            )
        csr = csr.select("src", "dsts", (F.lit(1.0) / F.col("od")).alias("w"))
    spark = edges.sparkSession
    if max_segment is not None or p != int(spark.conf.get("spark.sql.shuffle.partitions")):
        csr = csr.repartition(p, "src")
    csr = cache(csr)
    n_sources = csr.count()
    if max_segment is not None:  # >1 row per hub source
        n_sources = csr.select("src").distinct().count()
    return csr, n_sources


def gather(
    csr: DataFrame, scores: DataFrame, zeros: DataFrame, contribution, dst: str = "e"
) -> DataFrame:
    """One superstep's (vertex, gathered): scatter ``contribution`` along
    the successor arrays (exploded as ``e``; ``dst`` names the target id
    in it), fold the zero rows into the same shuffle, partial-sum
    map-side — exactly one exchange."""
    return (
        csr.join(scores.hint("shuffle_hash"), csr["src"] == scores["vertex"])
        .select(F.explode("dsts").alias("e"), "*")
        .select(F.col(dst).alias("vertex"), contribution.alias("c"))
        .unionAll(zeros)
        .groupBy("vertex")
        .agg(F.sum("c").alias("gathered"))
    )


def dangling_mass(cache, csr: DataFrame, n_sources: int, verts: DataFrame, n: int):
    """``mass(ranks)`` → Σ pr over the vertices with no out-arc. A vertex
    with out-arcs is a CSR source, so ``n_sources == n`` proves there are
    none without the V⋈V anti-join; otherwise the dangling set is cached
    once and each call is one semi-join + driver scalar."""
    if n_sources >= n:
        return lambda ranks: 0.0
    dangling = cache(
        verts.join(csr.select(F.col("src").alias("vertex")), "vertex", "left_anti")
    )
    dangling.count()
    return lambda ranks: (
        ranks.join(dangling, "vertex", "left_semi")
        .agg(F.coalesce(F.sum("pr"), F.lit(0.0)))
        .first()[0]
    )
