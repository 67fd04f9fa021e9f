"""Connected components: Kiveris et al.'s alternating large-star /
small-star.

The state is a shrinking *edge set*, and every per-round operation is
keyed by a plain vertex id whose fan-in is bounded by its current degree.
This is the web-scale-safe formulation: there is no join keyed on a
converging component label (in a web graph ~90% of vertices end up
sharing one label, so a label-keyed join — min-label pointer jumping —
funnels nearly all rows through a single shuffle key). Per round:

  large-star: symmetrize E; per vertex u with neighbors Γ(u),
              m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u.
  small-star: orient E big→small; per vertex u with smaller neighbors N,
              m = min(N ∪ {u}) = min(N); emit (v, m) for v ∈ N ∪ {u}, v≠m.

Both steps are a partial-agg-safe ``groupBy(u).min`` plus a join of the
edge set against that V-sized min table (AQE skew-split covers hub keys —
fan-in bounded by degree, not component size). At fixpoint the edge set is
a star forest rooted at each component's minimum id; convergence is
detected with an order-insensitive signature aggregation (count + sum of
per-edge hashes), no extra join. O(log² n) rounds worst case. The tests
check the labels against an independent union-find.

Lineage is truncated per round (localCheckpoint); with a CheckpointManager
rounds commit to parquet and runs resume (analogue of the reference's
per-node phase/state resume points, /root/reference/src/ans/mod.rs:62-68).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _edge_signature(df: DataFrame) -> tuple[int, object]:
    """Order-insensitive (count, hash-sum) signature of an edge set.
    decimal(38,0) sum: overflow-free under ANSI mode for any edge count."""
    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).alias("sig"),
    ).first()
    return row.n, row.sig


def _star_labels(edges_star: DataFrame, verts: DataFrame) -> DataFrame:
    """Star edge set (v, m) → (vertex, component); isolated vertices and
    star roots are their own component."""
    ptr = edges_star.select(F.col("src").alias("vertex"), F.col("dst").alias("component"))
    return verts.join(ptr, "vertex", "left").select(
        "vertex", F.coalesce("component", F.col("vertex")).alias("component")
    )


def connected_components(
    edges: DataFrame,
    verts: DataFrame,
    max_rounds: int = 50,
    checkpoint_manager=None,
    job_id: str = "cc",
) -> DataFrame:
    """(vertex long, component long) via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond")."""
    # canonical big→small orientation; self-loops vanish, duplicates merged
    e = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )

    start_round = 0
    if checkpoint_manager is not None:
        # resume fingerprint: the canonical input edge set's (count, hash) —
        # snapshots from a run over different edges are rejected
        n0, sig0 = _edge_signature(e)
        ckpt_params = {"edges_n": n0, "edges_sig": str(sig0)}
        resumed = checkpoint_manager.latest_snapshot(job_id, params=ckpt_params)
        if resumed is not None:
            start_round, e = resumed
    # no per-round repartition("src"): the next consumer is the
    # symmetrizing union (whose output partitioning is unknown to the
    # planner regardless) followed by a groupBy that shuffles anyway, and
    # the dedup that canonicalizes each round already leaves a
    # well-spread HashPartitioning(src, dst)
    e = e.localCheckpoint(eager=True)

    sig = _edge_signature(e)
    for rnd in range(start_round + 1, max_rounds + 1):
        e = _star_round(e).localCheckpoint(eager=True)
        new_sig = _edge_signature(e)
        if checkpoint_manager is not None:
            checkpoint_manager.commit(
                job_id, rnd, e, {"edges": new_sig[0]}, params=ckpt_params
            )
        if new_sig == sig:
            break
        sig = new_sig
    else:
        # Either the loop exhausted max_rounds, or a resume landed at
        # start_round == max_rounds (empty round range — e.g. re-running a
        # job whose previous run converged exactly at its last round). The
        # snapshot may already BE the fixpoint: probe one round lazily and
        # accept if the signature is stable; otherwise fail loudly —
        # _star_labels over a non-star edge set can emit multiple rows per
        # vertex and non-minimal labels (large/small-star converges in
        # O(log^2 n) rounds, so a realistic max_rounds only trips this on
        # resume-at-fixpoint).
        if _edge_signature(_star_round(e)) != sig:
            raise RuntimeError(
                f"connected_components: no convergence within max_rounds={max_rounds}"
            )
    return _star_labels(e, verts)


def _star_round(e: DataFrame) -> DataFrame:
    """One alternating large-star + small-star round over a canonical
    big→small edge set; returns the new big→small edge set (lazy)."""
    # --- large-star -------------------------------------------------------
    sym = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", "src").alias("m"))
    )
    large = (
        sym.where(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .dropDuplicates(["src", "dst"])
        # materialized (round-7): BOTH small-star branches (the center
        # mins and the attach join) read this frame — without the barrier
        # the whole large-star shuffle join executed twice per round
        .localCheckpoint(eager=True)
    )
    # --- small-star -------------------------------------------------------
    # input edges are big→small already (large-star emits v > m);
    # smins feeds the attach join AND the center rows — checkpointed so
    # the per-center min aggregation over the star set runs once
    smins = (
        large.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .localCheckpoint(eager=True)
    )
    attached = (
        large.join(smins, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    centers = smins.select("src", F.col("m").alias("dst"))
    return attached.unionAll(centers).dropDuplicates(["src", "dst"])
