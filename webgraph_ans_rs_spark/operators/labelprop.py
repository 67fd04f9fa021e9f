"""Synchronous label propagation with deterministic tie-breaking.

Per superstep, every vertex adopts the most frequent label among its
undirected neighbors; ties break to the *smallest* label (SURVEY.md §7 hard
part (d) — without a total-order tie-break the algorithm is
nondeterministic and oracle comparison is impossible). Vertices with no
neighbors keep their label.

Plan per superstep: join(neighbors, labels) → groupBy(vertex, label).count
→ argmax as a plain aggregation: ``min_by(nbr_label, struct(-cnt,
nbr_label))`` — min over (-count, label) is exactly (count desc, label asc).
Both aggregations get map-side partial combine, so a hub vertex's distinct
neighbor labels (up to its degree — 1e7+ at web scale) arrive at the reducer
as pre-combined partials instead of landing in a single window partition on
one task. (``-cnt`` cannot overflow: cnt ≥ 1; negating the *label* would
risk Long.MIN_VALUE with hashed ids, which is why the order key negates the
count, not the label.)

Two modes share one loop (``_lp_loop``): fixed-iteration
``label_propagation`` (``num_iter``; resumable from a CheckpointManager) is
what the oracle compares — synchronous LP is only well-defined per
iteration count — and ``label_propagation_converged`` runs self-vote
supersteps to a fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.derived_graph import undirected_symmetrize
from .superstep import cache_scope


def _argmax_labels(hist: DataFrame) -> DataFrame:
    """(vertex, nbr_label) — most frequent label, ties to smallest label.
    Aggregation form (hub-safe): map-side partial min_by, no window sort."""
    ordkey = F.struct((-F.col("cnt")).alias("nc"), F.col("nbr_label").alias("lbl"))
    return hist.groupBy("vertex").agg(F.min_by("nbr_label", ordkey).alias("nbr_label"))


def _lp_loop(
    edges: DataFrame,
    verts: DataFrame,
    max_iter: int,
    converge: bool,
    checkpoint_manager=None,
    job_id: str = "lp",
) -> tuple[DataFrame, int]:
    """THE label-propagation loop: (labels, iterations). Fixed mode runs
    supersteps up to ``max_iter``, resuming from and committing to
    ``checkpoint_manager``. ``converge`` adds the self vote and stops at
    the first superstep that changes no vertex, raising at the bound. The
    symmetrized edge set is cached for the loop and released on exit,
    failure included."""
    with cache_scope() as cache:
        und = cache(undirected_symmetrize(edges))
        und.count()
        labels = verts.select("vertex", F.col("vertex").alias("label"))
        start, ckpt_params = 0, None
        if checkpoint_manager is not None:
            # resume fingerprint (same scheme as CC/PageRank): a snapshot
            # from a different edge set must be rejected. "argmax" is the
            # one argmax form there is; it stays so older snapshots resume.
            from .components import _edge_signature

            en, esig = _edge_signature(und)
            ckpt_params = {"edges_n": en, "edges_sig": str(esig), "argmax": "agg"}
            resumed = checkpoint_manager.latest_snapshot(job_id, params=ckpt_params)
            if resumed is not None:
                start, labels = resumed
        labels = labels.localCheckpoint(eager=True)
        for it in range(start + 1, max_iter + 1):
            nxt = _lp_step(und, labels, _argmax_labels, converge).localCheckpoint(
                eager=True
            )
            if checkpoint_manager is not None:
                checkpoint_manager.commit(job_id, it, nxt, {}, params=ckpt_params)
            if converge and _changed(nxt, labels) == 0:
                return labels, it
            labels = nxt
    if converge:
        raise RuntimeError(
            f"label_propagation_converged: labels did not stabilize within "
            f"max_iter={max_iter} supersteps (synchronous LP can oscillate; "
            f"raise the bound or break ties asynchronously)"
        )
    return labels, max_iter


def _changed(nxt: DataFrame, labels: DataFrame) -> int:
    """# vertices whose label differs between two checkpointed labelings."""
    return (
        nxt.join(labels.withColumnRenamed("label", "prev"), "vertex")
        .where(F.col("label") != F.col("prev"))
        .count()
    )


def label_propagation(
    edges: DataFrame,
    verts: DataFrame,
    num_iter: int = 5,
    checkpoint_manager=None,
    job_id: str = "lp",
) -> DataFrame:
    """(vertex long, label long) after exactly ``num_iter`` synchronous
    steps; with a ``checkpoint_manager`` every step commits and a rerun
    resumes from the latest snapshot of the same edge set."""
    return _lp_loop(edges, verts, num_iter, False, checkpoint_manager, job_id)[0]


def _lp_step(
    und: DataFrame, labels: DataFrame, pick, self_vote: bool = False
) -> DataFrame:
    """One synchronous LP superstep: neighbor-label histogram → argmax
    (count desc, label asc) → adopt; no-neighbor vertices keep theirs.
    ``self_vote`` adds ONE vote for the vertex's own current label — the
    classic damping that breaks synchronous LP's 2-cycles (the vote rows
    fold into the same histogram shuffle: V extra rows against 2E)."""
    votes = und.join(
        labels.withColumnRenamed("vertex", "nv"), und["dst"] == F.col("nv")
    ).select(und["src"].alias("vertex"), F.col("label").alias("nbr_label"))
    if self_vote:
        votes = votes.unionAll(
            labels.select("vertex", F.col("label").alias("nbr_label"))
        )
    hist = votes.groupBy("vertex", "nbr_label").agg(F.count("*").alias("cnt"))
    best = pick(hist)
    return labels.join(best, "vertex", "left").select(
        "vertex", F.coalesce("nbr_label", F.col("label")).alias("label")
    )


def label_propagation_converged(
    edges: DataFrame,
    verts: DataFrame,
    max_iter: int = 32,
) -> tuple[DataFrame, int]:
    """Convergence-mode LP: run synchronous supersteps until the labels
    STABILIZE (one more superstep changes no vertex), the reference
    kernels' run-to-stability discipline (its PageRank/components loops
    all run to a fixpoint). Returns (labels DataFrame, iterations), where
    ``iterations`` is the first superstep i whose output equals superstep
    i-1's — so the returned frame IS a fixpoint of the superstep.

    Each vertex's own label gets ONE histogram vote (``self_vote=True``):
    plain synchronous LP provably 2-cycles on bipartite-ish structure —
    MEASURED on the sf0.001 gate graph, which never stabilized in 32
    supersteps while the self-vote variant stabilizes in 3 at every SF —
    and the self vote is the standard deterministic damping (a vertex
    only abandons its label for a strictly-better-or-tie-smaller one).
    Raises RuntimeError if ``max_iter`` supersteps pass without
    stabilizing, so a caller never receives an unstable labeling
    silently; the unrolled DuckDB oracle replays the same bound (the
    kcore gate pattern).

    Scale shape: identical per-superstep plan to ``label_propagation``
    (map-side partial min_by argmax, no Window; the self votes are V
    extra rows folded into the 2E-row histogram shuffle); the
    convergence check adds one driver-scalar count of changed vertices
    per superstep on the already-checkpointed frames — the same
    per-superstep action discipline as pagerank's L1-delta loop.
    """
    return _lp_loop(edges, verts, max_iter, True)
