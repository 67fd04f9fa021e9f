"""Power-iteration PageRank: one superstep kernel, four thin wrappers.

``pagerank``, ``pagerank_weighted``, ``personalized_pagerank`` and
``personalized_pagerank_converged`` all run ``_setup`` + ``_iterate``:
the scatter–gather superstep of operators/superstep.py (one exchange per
superstep under its co-partitioning contract) followed by a projection.
Three things vary per variant:

  contribution: pr·w (w = 1/outdeg) for the plain CSR, pr·e.wn for the
                weighted one (wn = wt/Σwt, normalized once at build);
  apply:        uniform teleport — rank' = (1-d)/n + d·(gathered +
                dangling_mass/n), a projection on the gather output — or
                personalized — rank' = ((1-d) + d·dangling_mass)·s(v) +
                d·gathered, an exchange-free shuffle-hash join against the
                co-partitioned teleport vector ``sv``;
  stopping:     ``tol=None`` runs exactly ``max_iter`` supersteps (the
                oracle-comparable fixed mode); otherwise the L1 delta of
                consecutive iterations is computed and the loop stops at
                ``≤ tol``. ``checkpoint_manager`` commits every superstep.

Dangling vertices redistribute their mass along the teleport vector, so
sum(rank) == 1 holds every iteration. Loop invariants (CSR, dangling set,
teleport vector) are cached once; ``setup_sec`` vs ``loop_sec`` are
reported separately because superstep throughput is the headline metric.

Lineage is truncated with localCheckpoint every TRUNCATE_EVERY supersteps
(a barrier right before the final superstep is skipped), and every
superstep in the personalized loop or when the L1 delta or a checkpoint
commit reads the frame. The parquet commits of
CheckpointManager are the resumable analogue of the reference's per-phase
resume points.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import superstep

TRUNCATE_EVERY = 3  # fixed-mode localCheckpoint cadence, in supersteps


@dataclass
class PageRankResult:
    ranks: DataFrame  # (vertex long, pr double)
    iterations: int
    l1_delta: float
    history: list[dict] = field(default_factory=list)  # per-superstep metrics
    setup_sec: float = 0.0  # one-time CSR/degree build (amortized in real runs)
    loop_sec: float = 0.0  # superstep loop wall time (the throughput metric)


def _setup(cache, edges, verts, n, p, ranks, damping, sv=None, max_segment=None,
           weighted=False):
    """Loop invariants of one variant, built inside a kernel_scope: returns
    (checkpointed initial ranks, ``step(ranks)`` → the next superstep's
    un-executed frame, whether every superstep must be checkpointed).
    ``sv`` (vertex, s) selects the personalized apply."""
    csr, n_sources = superstep.build_csr(cache, edges, p, max_segment, weighted)
    mass = superstep.dangling_mass(cache, csr, n_sources, verts, n)
    ranks = ranks.localCheckpoint(eager=True)
    # zero-contribution row per vertex: a narrow projection of the
    # checkpointed initial state, no separate V-sized persist
    zeros = ranks.select("vertex", F.lit(0.0).alias("c"))
    if weighted:
        contribution, dst = F.col("pr") * F.col("e.wn"), "e.dst"
    else:
        contribution, dst = F.col("pr") * F.col("w"), "e"

    def step(ranks):
        dm = mass(ranks)
        gathered = superstep.gather(csr, ranks, zeros, contribution, dst)
        if sv is None:
            base = (1.0 - damping) / n + damping * dm / n
            return gathered.select(
                "vertex", (F.lit(base) + F.lit(damping) * F.col("gathered")).alias("pr")
            )
        coef = (1.0 - damping) + damping * dm
        return gathered.join(sv.hint("shuffle_hash"), "vertex").select(
            "vertex",
            (F.lit(coef) * F.col("s") + F.lit(damping) * F.col("gathered")).alias("pr"),
        )

    # the personalized loop checkpoints every superstep: carrying the
    # teleport join across supersteps measured slower
    return ranks, step, sv is not None


def _iterate(ranks, step, max_iter, tol, t_setup, start_iter=0, commit=None,
             eager=False):
    """The one superstep loop: supersteps start_iter+1..max_iter, stopping
    early once the L1 delta is ≤ ``tol``; ``commit(it, ranks, metrics)``
    persists each superstep for resumable runs. A superstep is
    checkpointed every TRUNCATE_EVERY supersteps, and every superstep when
    the delta or a commit reads it or the setup asks for it (``eager``)."""
    setup_sec = time.time() - t_setup
    t_loop = time.time()
    history: list[dict] = []
    l1 = float("inf")
    it = start_iter
    for it in range(start_iter + 1, max_iter + 1):
        t0 = time.time()
        new_ranks = step(ranks)
        # intermediate truncation bounds plan depth; on the final superstep
        # the caller's action materializes anyway, so a barrier right
        # before it is pure overhead
        if (
            it == max_iter
            or (it % TRUNCATE_EVERY == 0 and max_iter - it > 1)
            or tol is not None
            or commit is not None
            or eager
        ):
            new_ranks = new_ranks.localCheckpoint(eager=True)
        if tol is not None:
            l1 = (
                new_ranks.join(ranks.withColumnRenamed("pr", "pr_old"), "vertex")
                .agg(F.sum(F.abs(F.col("pr") - F.col("pr_old"))))
                .first()[0]
            )
        ranks = new_ranks
        wall_ms = int((time.time() - t0) * 1000)
        history.append({"iteration": it, "l1_delta": l1, "wall_ms": wall_ms})
        if commit is not None:
            commit(it, ranks, {"l1_delta": l1, "wall_ms": wall_ms})
        if tol is not None and l1 <= tol:
            break
    return PageRankResult(ranks, it, l1, history, setup_sec, time.time() - t_loop)


def _uniform(
    edges, verts, damping, max_iter, tol, p=None, weighted=False, max_segment=None,
    dense_relabel=False, checkpoint_manager=None, job_id="pagerank",
    probe=False, release_caches=None,
) -> PageRankResult | DataFrame:
    """Uniform-teleport PageRank. ``probe=True`` returns the plan probe
    instead: superstep 1 executed and checkpointed, superstep 2
    un-executed (``release_caches``: see ``superstep_probe``)."""
    t_setup = time.time()
    spark = edges.sparkSession
    n = verts.count()
    p = p or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with superstep.kernel_scope(spark, release_caches) as cache:
        if dense_relabel:
            from .graph_build import dense_ids

            ids = cache(dense_ids(verts, num_partitions=p))
            ids.count()
            edges = (
                edges.join(
                    ids.select(F.col("vertex").alias("src"), F.col("dense_id").alias("s")),
                    "src",
                )
                .join(
                    ids.select(F.col("vertex").alias("dst"), F.col("dense_id").alias("d")),
                    "dst",
                )
                .select(F.col("s").alias("src"), F.col("d").alias("dst"))
            )
            verts = ids.select(F.col("dense_id").alias("vertex"))
        start_iter, commit = 0, None
        ranks = verts.select("vertex", F.lit(1.0 / n).alias("pr"))
        if checkpoint_manager is not None:
            # resume fingerprint: a snapshot from a run with a different
            # damping, vertex universe or EDGE SET is rejected, not
            # silently continued; the edge signature is the order-
            # insensitive (count, hash-sum) of connected_components
            from .components import _edge_signature

            en, esig = _edge_signature(edges)
            params = {"damping": damping, "n": n, "edges_n": en, "edges_sig": str(esig)}
            resumed = checkpoint_manager.latest_snapshot(job_id, params=params)
            if resumed is not None:
                start_iter, ranks = resumed

            def commit(it, r, metrics):
                checkpoint_manager.commit(job_id, it, r, metrics, params=params)

        ranks, step, eager = _setup(
            cache, edges, verts, n, p, ranks.repartition(p, "vertex"), damping,
            max_segment=max_segment, weighted=weighted,
        )
        if probe:
            return step(step(ranks).localCheckpoint(eager=True))
        res = _iterate(ranks, step, max_iter, tol, t_setup, start_iter, commit, eager)
        if dense_relabel:
            # map dense ids back to the caller's ids; materialize before
            # the id map's cache is released
            res.ranks = res.ranks.join(
                ids.select(F.col("vertex").alias("orig"), F.col("dense_id").alias("vertex")),
                "vertex",
            ).select(F.col("orig").alias("vertex"), "pr").localCheckpoint(eager=True)
    return res


def pagerank(
    edges: DataFrame,
    verts: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1e-6,
    checkpoint_manager=None,
    job_id: str = "pagerank",
    shuffle_partitions: int | None = None,
    max_segment: int | None = None,
    dense_relabel: bool = False,
) -> PageRankResult:
    """Exact power iteration. ``tol`` is the L1-delta convergence threshold;
    pass ``tol=None`` to run exactly ``max_iter`` supersteps (the
    oracle-comparable fixed-iteration mode, skipping delta computation).

    ``shuffle_partitions`` (e.g. LayoutPlan.shuffle_partitions from the
    stats pass) sets the partition count P shared by the CSR and the rank
    state; defaults to the session shuffle setting.

    ``max_segment`` (e.g. LayoutPlan.csr_max_segment, set when the degree
    histogram shows hub sources): builds the CSR with hub successor lists
    split into ≤ ~max_segment segments so no single task ever explodes a
    hub's entire fan-out (graph_build.build_csr_segments). Float summation
    order changes (segments gather independently), so the fixed-iteration
    oracle mode keeps max_segment=None; results agree to ~1e-15 per vertex.

    ``dense_relabel=True`` relabels the graph to dense 0..N-1 ids before
    the loop and maps the ranks back at the end. Measured
    (BENCH_EXCHANGE.json, local[8], 8.6M edges): dense ids move 29% fewer
    bytes per edge per superstep through the gather exchange than
    full-entropy xxhash64 ids (lz4 compresses low-entropy keys). A dense
    universe is the reference's design; off for the oracle queries only
    because re-partitioned sums change float association order (~1e-16
    per vertex).
    """
    return _uniform(
        edges, verts, damping, max_iter, tol, shuffle_partitions,
        max_segment=max_segment, dense_relabel=dense_relabel,
        checkpoint_manager=checkpoint_manager, job_id=job_id,
    )


def pagerank_weighted(
    edges_w: DataFrame,
    verts: DataFrame,
    damping: float = 0.85,
    num_iter: int = 5,
) -> PageRankResult:
    """Fixed-iteration PageRank over WEIGHTED arcs (src, dst, wt) — the
    web-graph variant where an arc's transition probability is its weight
    share wt/Σ_dst wt (anchor-text multiplicity, link position, crawl
    frequency). Weights must be strictly positive (a zero-total source
    would need the dangling treatment; the builders guarantee wt >= 1).
    Dangling = vertices with no out-arc, mass redistributed uniformly.

    Scale note: the weighted CSR is unsegmented — a hub SOURCE's whole
    (dst, wn) array sits in one row. Out-degree is author-bounded on the
    web (fan-in skews), and since wn is normalized per source, segments
    would just carry their slice of it."""
    return _uniform(edges_w, verts, damping, num_iter, None, weighted=True)


def superstep_probe(
    edges: DataFrame,
    verts: DataFrame,
    damping: float = 0.85,
    release_caches: list | None = None,
) -> DataFrame:
    """The un-executed superstep-2 frame of ``pagerank`` for plan audits:
    the production setup and superstep 1 run and are checkpointed, so the
    frame is the production plan. Pass ``release_caches=[]`` to receive the
    cached frames the plan reads and unpersist them AFTER inspecting it;
    without it they are released at once (fine for executing, but the
    inspected plan then re-expands the cached lineage)."""
    return _uniform(
        edges, verts, damping, 2, None, probe=True, release_caches=release_caches
    )


def _personalized(edges, verts, seeds, damping, max_iter, tol, probe=False,
                  release_caches=None):
    """Personalized PageRank; ``probe``/``release_caches`` as in ``_uniform``."""
    t_setup = time.time()
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # normalize the seed set BEFORE sizing the teleport: duplicate seed
    # rows or seeds outside the vertex universe would otherwise inflate
    # n_seeds while sv sums to < 1 — silently losing teleport mass
    seeds = (
        seeds.select("vertex")
        .dropDuplicates(["vertex"])
        .join(verts.select("vertex"), "vertex", "left_semi")
    )
    n_seeds = seeds.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    s_val = 1.0 / n_seeds
    with superstep.kernel_scope(spark, release_caches) as cache:
        sv = cache(
            verts.join(seeds.withColumn("_is_seed", F.lit(True)), "vertex", "left")
            .select(
                "vertex",
                F.when(F.col("_is_seed"), F.lit(s_val)).otherwise(F.lit(0.0)).alias("s"),
            )
            .repartition(p, "vertex")
        )
        n = sv.count()
        # sv is already hash-partitioned (vertex, p): the narrow projection
        # keeps that, so the initial ranks need no repartition
        ranks, step, eager = _setup(
            cache, edges, verts, n, p, sv.select("vertex", F.col("s").alias("pr")),
            damping, sv=sv,
        )
        if probe:
            return step(step(ranks).localCheckpoint(eager=True))
        return _iterate(ranks, step, max_iter, tol, t_setup, eager=eager)


def personalized_pagerank(
    edges: DataFrame,
    verts: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    num_iter: int = 5,
) -> DataFrame:
    """Personalized PageRank (the TrustRank shape: teleport restricted to
    a trusted seed set) — (vertex, pr) after ``num_iter`` exact power
    iterations with teleport vector s(v) = 1/|seeds| on the seed set.

        pr_{i+1}(v) = ((1−d) + d·dm_i) · s(v) + d · Σ_{u→v} pr_i(u)/outdeg(u)

    with dangling mass dm redistributed to the seeds (the personalized
    analogue of uniform redistribution). Duplicate seeds and seeds outside
    ``verts`` are dropped; an empty seed set raises ``ValueError``. The
    teleport apply rides a second exchange-free co-partitioned join, so a
    superstep still plans exactly one exchange (gate query
    `personalized_pagerank`)."""
    return _personalized(edges, verts, seeds, damping, num_iter, None).ranks


def personalized_pagerank_converged(
    edges: DataFrame,
    verts: DataFrame,
    seeds: DataFrame,
    damping: float = 0.5,
    max_iter: int = 35,
    tol: float = 1e-6,
) -> tuple[DataFrame, int]:
    """Convergence-mode PPR: the same loop run until the L1 delta between
    consecutive iterations is ≤ ``tol``. Returns (ranks, iterations). Gate
    query `ppr_converged` unrolls the identical rule in DuckDB —
    consecutive deltas shrink geometrically (~damping per iteration) while
    cross-engine summation drift is ~1e-15 relative, so the threshold
    comparison cannot flip. Raises ``RuntimeError`` when ``max_iter`` is
    exhausted with the delta still > ``tol`` (the DuckDB oracle returns
    zero rows in that regime, so the gate config never reaches it)."""
    res = _personalized(edges, verts, seeds, damping, max_iter, tol)
    if res.l1_delta > tol:
        raise RuntimeError(
            f"personalized_pagerank_converged: L1 delta still > {tol} "
            f"after max_iter={max_iter}; raise max_iter or tol"
        )
    return res.ranks, res.iterations


def ppr_superstep_probe(
    edges: DataFrame,
    verts: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    release_caches: list | None = None,
) -> DataFrame:
    """The un-executed superstep-2 frame of the personalized loop, with the
    ``release_caches`` contract of ``superstep_probe``."""
    return _personalized(edges, verts, seeds, damping, 2, None, True, release_caches)
