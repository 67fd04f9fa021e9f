"""Deterministic graph sampling — the GNN-training-pipeline shape.

K-hop neighborhood sampling over the edge table: keep each edge with
probability ~p via a deterministic per-edge hash (a pure function of
(src, dst), so any engine regenerates the identical sample — same
discipline as the derived-graph fixtures), then expand a seed set hop by
hop with joins. At 100 TB each hop is one shuffle join keyed src; the
sampled edge set is a narrow filter pushed into the scan side.

The hash is md5-based (first digest byte % 100) rather than xxhash64
because DuckDB's ``hash()`` is a different algorithm — md5 is the one
64-bit-stable hash both engines share, and one byte of it is plenty for a
sampling decision. The % 100 on a 0..255 byte is slightly biased
(p=30 keeps ~30.5%); the oracle mirrors the exact same rule, and sampling
rates are approximate by nature.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bfs import bfs_levels

_HEXD = "0123456789abcdef"


def _md5_byte0(col_a, col_b):
    """First md5 digest byte of 'a|b' — 0..255, engine-portable."""
    h = F.md5(F.concat_ws("|", col_a.cast("string"), col_b.cast("string")).cast("binary"))
    hi = F.instr(F.lit(_HEXD), F.substring(h, 1, 1)) - 1
    lo = F.instr(F.lit(_HEXD), F.substring(h, 2, 1)) - 1
    return hi * 16 + lo


def sample_edges(edges: DataFrame, pct: int = 30) -> DataFrame:
    """~pct% of edges, deterministically (pure function of (src, dst))."""
    return edges.where(_md5_byte0(F.col("src"), F.col("dst")) % 100 < pct)


def khop_neighbors(
    edges: DataFrame, seeds: DataFrame, k: int = 2, pct: int = 30
) -> DataFrame:
    """(seed, vertex, hop) — vertices reachable from each seed within k
    hops through the sampled edge set; hop = minimum hop count (seeds
    themselves excluded). One per-seed ``bfs_levels`` ball: one shuffle
    join per hop, frontiers keyed by seed, so the output is the per-seed
    neighborhood a GNN batch loader consumes."""
    seeds = seeds.select("seed", F.col("seed").alias("vertex"))
    balls = bfs_levels(sample_edges(edges, pct), seeds, k, key="seed")
    hops = balls.where(F.col("vertex") != F.col("seed"))
    return hops.toDF("seed", "vertex", "hop")


def _rank_hex(seed_col, v_col):
    """Deterministic per-(seed, vertex) rank: md5 hex of 'seed|v' — a total
    order both engines share (ties impossible: input strings are unique)."""
    return F.md5(
        F.concat_ws("|", seed_col.cast("string"), v_col.cast("string")).cast("binary")
    )


def choose_salts(
    max_outdeg: int, max_per_hop: int, pct: int, target_buffer: int = 4096
) -> int:
    """Stats-pass-driven salt count for the capped top-K (the same
    histogram→parameter discipline as plans/layout.choose_layout): a hop's
    per-seed candidate set is bounded by frontier × hottest sampled
    out-degree ≈ max_per_hop · max_outdeg · pct/100, and stage 1 buffers
    ~candidates/n_salts structs per (seed, salt) group — so pick the
    power-of-two salt count that keeps that buffer ≤ ~target_buffer
    (a shuffle-partition's worth, the csr_max_segment analogue), clamped
    to [1, 1024]."""
    cand_bound = max(1, int(max_per_hop * max_outdeg * (pct / 100.0)))
    if cand_bound <= target_buffer:
        return 1
    return min(1024, 2 ** math.ceil(math.log2(cand_bound / target_buffer)))


def _topk_per_seed(cand: DataFrame, k_cap: int, n_salts: int = 32) -> DataFrame:
    """(seed, v) — the ``k_cap`` smallest (rank, v) rows per seed, via a
    SALTED TWO-STAGE aggregation rather than a window: stage 1 takes the
    per-(seed, salt) top-K (each partial is ≤ k_cap structs after the
    slice), stage 2 merges ≤ n_salts·k_cap survivors per seed. Exact — the
    global top-K is contained in the union of per-salt top-Ks — and no
    single task ever sorts a hub seed's whole frontier (the reference's
    analogous discipline is per-node bounded enumeration,
    examples/bench_random_access.rs:28-41)."""
    ranked = cand.select(
        "seed", "v", F.struct(_rank_hex(F.col("seed"), F.col("v")).alias("rk"), F.col("v").alias("vv")).alias("kv")
    ).withColumn("_salt", F.pmod(F.xxhash64("v"), F.lit(n_salts)))
    stage1 = ranked.groupBy("seed", "_salt").agg(
        F.slice(F.array_sort(F.collect_list("kv")), 1, k_cap).alias("top")
    )
    stage2 = (
        stage1.select("seed", F.explode("top").alias("kv"))
        .groupBy("seed")
        .agg(F.slice(F.array_sort(F.collect_list("kv")), 1, k_cap).alias("top"))
    )
    return stage2.select("seed", F.explode("top").alias("kv")).select(
        "seed", F.col("kv.vv").alias("v")
    )


def khop_neighbors_capped(
    edges: DataFrame,
    seeds: DataFrame,
    k: int = 2,
    pct: int = 30,
    max_per_hop: int = 8,
    n_salts: int | None = None,
) -> DataFrame:
    """(seed, vertex, hop) — like ``khop_neighbors`` but each hop's frontier
    is capped at ``max_per_hop`` vertices PER SEED, chosen deterministically
    as the smallest md5('seed|v') ranks — the real GNN-loader shape
    (GraphSAGE-style fixed fan-out): without the cap one hub neighbor pulls
    its entire sampled adjacency into a single seed's frontier. The top-K
    is an exact salted two-stage aggregation (no per-seed window sort);
    ``n_salts=None`` derives the salt count from a degree stats pass over
    the sampled edge set (``choose_salts``), so the stage-1 agg buffers are
    bounded by ~target_buffer structs regardless of how hubby the graph is.
    The RESULT is independent of n_salts (the global top-K is contained in
    the union of per-salt top-Ks for any salt count), so the stats pass
    never perturbs determinism: output is a pure function of
    (edges, seeds, k, pct, max_per_hop) and a SQL oracle regenerates it."""
    sampled = sample_edges(edges, pct).select("src", "dst")
    if k > 1:
        sampled = sampled.persist()
    # try/finally: a failed per-hop action must not leak the cached sample
    try:
        if n_salts is None:
            max_outdeg = (
                sampled.groupBy("src")
                .agg(F.count("*").alias("c"))
                .agg(F.coalesce(F.max("c"), F.lit(0)))
                .first()[0]
            )
            n_salts = choose_salts(max_outdeg, max_per_hop, pct=100)
        frontier = seeds.select(F.col("seed"), F.col("seed").alias("v"))
        reached = None
        for hop in range(1, k + 1):
            cand = (
                frontier.join(sampled, frontier["v"] == sampled["src"])
                .select("seed", F.col("dst").alias("v"))
                .dropDuplicates(["seed", "v"])
            )
            frontier = _topk_per_seed(cand, max_per_hop, n_salts)
            layer = frontier.select(
                "seed", F.col("v").alias("vertex"), F.lit(hop).alias("hop")
            )
            reached = layer if reached is None else reached.unionAll(layer)
        out = (
            reached.where(F.col("vertex") != F.col("seed"))
            .groupBy("seed", "vertex")
            .agg(F.min("hop").cast("int").alias("hop"))
        )
        if k > 1:
            out = out.localCheckpoint(eager=True)
        return out
    finally:
        if k > 1:
            sampled.unpersist()
