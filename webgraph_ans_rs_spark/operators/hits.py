"""HITS (Kleinberg hubs & authorities) on the PageRank superstep kernel.

HITS is the second spectral kernel a web-graph user runs on the same edge
table. Each half-step is the scatter–gather superstep of
operators/superstep.py (one exchange under its co-partitioning contract)
with contribution ``sc``, the previous half-step's raw score:

  auth half-step:  gather the hub scores along the forward CSR;
  hub half-step:   gather the fresh authority scores along the TRANSPOSED
                   CSR (in-neighbor lists).

Normalization is DEFERRED. Gathers are linear and sum-normalization is a
uniform scaling, so scaling commutes through the whole loop: the
half-steps run UNNORMALIZED and the two totals are read once at the end
(two driver-scalar aggs) — per-half-step normalization would force a
materialization barrier + action per half-step, which measured 2-3× the
whole loop's cost at 8.6M edges. Identical vector in exact arithmetic;
the float difference vs the oracle's per-half-step division is ~1e-16
relative, far below the gate's 6dp rounding. Sum instead of the textbook
L2: identical fixed point up to scaling, and the unrolled DuckDB oracle
replays it with plain SUM — no sqrt ulps.

Lineage is truncated every TRUNCATE_EVERY half-steps; when raw magnitudes
could approach double range, that barrier also rescales (see ``hits``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import superstep

TRUNCATE_EVERY = 4  # localCheckpoint cadence, in half-steps (even)


def _setup(cache, edges: DataFrame, verts: DataFrame):
    """Loop invariants: (auth half-step, hub half-step, initial hub scores,
    vertex count)."""
    p = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select("src", "dst")
    fwd, _ = superstep.build_csr(cache, e, p)
    rev, _ = superstep.build_csr(
        cache, e.select(F.col("dst").alias("src"), F.col("src").alias("dst")), p
    )
    # the zero rows keep the vertex frame's own (few) partitions: derived
    # from the P-partitioned score state they would add P gather map tasks
    zeros = cache(verts.select("vertex", F.lit(0.0).alias("c")))
    n = zeros.count()
    score = (
        verts.select("vertex", F.lit(1.0).alias("sc"))
        .repartition(p, "vertex")
        .localCheckpoint(eager=True)
    )

    def half(csr: DataFrame):
        return lambda sc: superstep.gather(csr, sc, zeros, F.col("sc")).select(
            "vertex", F.col("gathered").alias("sc")
        )

    return half(fwd), half(rev), score, n


def hits(edges: DataFrame, verts: DataFrame, num_iter: int = 3) -> DataFrame:
    """(vertex, auth, hub) after ``num_iter`` sum-normalized iterations.

    auth_i(v) = Σ_{u→v} hub_{i-1}(u) / Σ_raw;  hub_i(u) = Σ_{u→v} auth_i(v)
    / Σ_raw. Vertices with no in-edges (out-edges) get auth (hub) = 0 —
    including the edgeless-graph corner, where the normalization total of
    an all-zero frame is clamped to 1 so scores stay 0.0, never NaN.

    Overflow guard: a half-step grows the max magnitude by at most a
    factor n (degree ≤ n, scores start at 1), so max |score| after h
    half-steps ≤ n^(h+1). Only when (2·num_iter + 1)·log10(n) exceeds 250
    (DBL_MAX is 1e308) is each truncation barrier also RESCALED by its
    running max — uniform scaling commutes through the linear gathers and
    cancels in the final division, so scores are unchanged, and the
    checkpoint is an action anyway, so the max is one cheap driver agg.
    """
    if num_iter < 1:
        raise ValueError(f"hits: num_iter must be >= 1, got {num_iter}")
    with superstep.kernel_scope(edges.sparkSession) as cache:
        auth_step, hub_step, score, n = _setup(cache, edges, verts)
        need_rescale = (2 * num_iter + 1) * math.log10(max(n, 2)) > 250.0

        def barrier(frame):
            frame = frame.localCheckpoint(eager=True)
            if not need_rescale:
                return frame
            m = frame.agg(F.max(F.abs("sc"))).first()[0]
            if not m:  # all-zero frame (edgeless graph) — nothing to scale
                return frame
            return frame.select("vertex", (F.col("sc") / F.lit(m)).alias("sc"))

        for i in range(1, num_iter + 1):
            auth_raw = auth_step(score)
            if i == num_iter:
                # materialize the FINAL auth frame before the last hub
                # gather consumes it: it is read three times (the gather,
                # its total, the final join)
                auth_raw = auth_raw.localCheckpoint(eager=True)
            score = hub_step(auth_raw)
            if (2 * i) % TRUNCATE_EVERY == 0 and i < num_iter:
                score = barrier(score)
        hub_raw = score.localCheckpoint(eager=True)
        atot = auth_raw.agg(F.sum("sc")).first()[0] or 1.0  # 0/None → 1
        htot = hub_raw.agg(F.sum("sc")).first()[0] or 1.0
        return (
            auth_raw.select("vertex", (F.col("sc") / F.lit(atot)).alias("auth"))
            .join(
                hub_raw.select("vertex", (F.col("sc") / F.lit(htot)).alias("hub")),
                "vertex",
            )
            .select("vertex", "auth", "hub")
        )


def hits_halfstep_probe(
    edges: DataFrame, verts: DataFrame, release_caches: list | None = None
) -> DataFrame:
    """The un-executed hub half-step of ``hits`` for plan audits: the
    production setup and the first auth half-step run and are
    checkpointed, so the frame is the production plan. ``release_caches``
    as in pagerank.superstep_probe."""
    with superstep.kernel_scope(edges.sparkSession, release_caches) as cache:
        auth_step, hub_step, score, _ = _setup(cache, edges, verts)
        return hub_step(auth_step(score).localCheckpoint(eager=True))
