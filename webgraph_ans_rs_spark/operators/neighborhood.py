"""Neighbourhood function: exact BFS-ball counting and HyperBall (HLL).

The neighbourhood function NF(t) = #{(v,u) : dist(v,u) ≤ t} is THE
companion statistic of the WebGraph toolchain (Boldi–Vigna HyperBall runs
over exactly the BVGraph successor lists the reference compresses; the
reference's graphs ship with .properties recording it). Two forms:

* ``neighborhood_function_exact`` — per-level pair counts of one BFS
  ball per source (``bfs.bfs_levels`` keyed by source), summed
  cumulatively. Exact, but pair-set size is O(sum of ball sizes): fine
  for calibration and small graphs, quadratic blowup on well-connected
  ones — that blowup is the entire reason HyperBall exists.

* ``hyperball`` — per-vertex HyperLogLog registers, max-merged along OUT
  edges each superstep. m = 2^p registers are laid out as m COLUMNS, so
  a superstep is one edges⋈regs join + groupBy(vertex).agg(max per
  column): all-JVM, map-side partial max (hub fan-in collapses before
  the shuffle). The edge side is cached hash-partitioned by dst and the
  registers leave each superstep hash-partitioned by vertex, so the join
  is exchange-free and a steady-state superstep plans ONE exchange, the
  regroup by vertex (tests/test_superstep.py asserts it; the packed
  layout plans two). Estimates use the standard HLL harmonic mean with
  the linear-counting small-range correction (dominant here: at small t
  most balls hold a handful of vertices). Column layout is comfortable to
  p≈8 (256 agg expressions); beyond that the ARRAY-PACKED layout
  (``hyperball_packed``) stores all m registers in one array<tinyint>
  column with an explicit map-side combine + partition-local final fold
  (Arrow/numpy elementwise max) — frame width constant in p, precision unbounded (p=10+
  web-scale runs), and int8 is what crosses the Arrow boundary. Both
  layouts run on ONE superstep loop (``_register_supersteps``); the NF
  rows and the harmonic-centrality accumulation read the registers it
  yields.

  The register hash is a double multiplicative hash in pure int64
  arithmetic and rho comes from ``length(bin(w))`` (exact integer bit
  length, never float log2) — DETERMINISTIC and engine-portable, so
  despite being an approximation the whole computation is reproducible in
  DuckDB and the driver gate hash-compares it (the same trick as
  ``lsh_topk``). The harmonic sums are sums of ≤ m exact powers of two
  (all partial sums fit the 53-bit mantissa — exact in ANY order); the
  only float freedom left is libm ``ln``/division ulps and the NF sum
  order, ~1e-15 relative, far below the 4dp rounding.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from itertools import accumulate

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bfs import bfs_levels
from .superstep import cache_scope

# 32-bit xor-shift/multiply mix (lowbias32-style finalizer). Domain: ANY
# int64 vertex id — the id is first reduced mod 2^32 (pmod, negative-safe)
# and every multiplier is < 2^31, so every product stays < 2^63 in both
# ANSI Spark and DuckDB. Pure multiplicative hashing alone left registers
# of near-consecutive ids correlated and HyperBall 29% off at t=3 — the
# mix brings it back inside the HLL envelope, pytest-calibrated.
HB_A1, HB_B1 = 0x61C88647, 7  # 1640531527 (32-bit golden ratio, public)
HB_C1 = 0x7FEB352D  # 2146121005: (2^32−1)·C1 < 2^63−1
HB_C2 = 0x735A2D97  # 1935289751
HB_M32 = 1 << 32
HB_LIN_FACTOR = 2.5  # linear-counting regime threshold: raw ≤ 2.5·m


def hll_alpha(m: int) -> float:
    """Standard HLL bias-correction constant — single source for engine
    and oracle."""
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))


def neighborhood_function_exact(
    edges: DataFrame, verts: DataFrame, max_t: int
) -> DataFrame:
    """(t, nf) for t = 0..max_t, nf = exact # ordered pairs (v, u) with a
    directed path v→u of length ≤ t (pairs include (v, v)): the pairs
    first reached at each level, summed cumulatively — levels past an
    early-exited expansion add 0, so NF stays at its last value."""
    balls = _balls_of_every_vertex(edges, verts, max_t)
    per_level = dict(balls.groupBy("dist").count().collect())
    nf = accumulate(per_level.get(t, 0) for t in range(max_t + 1))
    return edges.sparkSession.createDataFrame(list(enumerate(nf)), "t int, nf bigint")


def _balls_of_every_vertex(
    edges: DataFrame, verts: DataFrame, max_t: int
) -> DataFrame:
    """(v, vertex, dist): the depth-``max_t`` ball of every vertex v."""
    sources = verts.select(F.col("vertex").alias("v"), "vertex")
    return bfs_levels(edges, sources, max_t, key="v")


def _rho_and_idx(vcol, p: int):
    """HLL mapping of a vertex id: h = 32-bit double multiplicative hash;
    register index = h mod 2^p, rho = 1 + #leading zeros of the remaining
    32−p bits, computed EXACTLY as (33−p) − length(bin(w)) — integer bit
    length, no float log anywhere."""
    x0 = F.pmod(vcol.cast("long"), F.lit(HB_M32))  # negative-safe reduce
    x = F.pmod(x0 * F.lit(HB_A1) + F.lit(HB_B1), F.lit(HB_M32))
    x = x.bitwiseXOR(F.shiftright(x, 16))
    x = F.pmod(x * F.lit(HB_C1), F.lit(HB_M32))
    x = x.bitwiseXOR(F.shiftright(x, 15))
    x = F.pmod(x * F.lit(HB_C2), F.lit(HB_M32))
    h = x.bitwiseXOR(F.shiftright(x, 16))
    idx = F.pmod(h, F.lit(1 << p)).cast("int")
    w = F.shiftright(h, p)  # h ≥ 0 → plain shift is the unsigned one
    maxr = 32 - p + 1
    rho = F.when(w == 0, F.lit(maxr)).otherwise(
        (F.lit(33 - p) - F.length(F.bin(w))).cast("int")
    )
    return idx, rho


def _estimate(m: int, reg_cols: list[str]):
    """Standard HLL estimate from register COLUMNS: harmonic mean with the
    linear-counting small-range correction. Exact powers of two in the
    harmonic sum keep cross-engine float drift at rounding level."""
    harm = None
    zeros = None
    for c in reg_cols:
        term = F.pow(F.lit(2.0), -F.col(c).cast("double"))
        harm = term if harm is None else harm + term
        z = F.when(F.col(c) == 0, 1).otherwise(0)
        zeros = z if zeros is None else zeros + z
    raw = F.lit(hll_alpha(m) * m * m) / harm
    lin = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    return F.when((raw <= F.lit(HB_LIN_FACTOR * m)) & (zeros > 0), lin).otherwise(raw)


def _init_regs(
    verts: DataFrame, p: int, reg_cols: list[str], eager: bool = True
) -> DataFrame:
    idx, rho = _rho_and_idx(F.col("vertex"), p)
    out = verts.select(
        "vertex",
        *[
            F.when(idx == j, rho).otherwise(0).cast("int").alias(c)
            for j, c in enumerate(reg_cols)
        ],
    )
    # eager=False: plan-only (tools/plan_audit.py inspects the superstep
    # shape without paying a vertices×m materialization)
    return out.localCheckpoint(eager=True) if eager else out


def _superstep_plan(
    e: DataFrame, regs: DataFrame, reg_cols: list[str]
) -> DataFrame:
    """v's ball(t) = v's ball(t-1) ∪ successors' balls(t-1): successor
    registers keyed by the edge's src UNIONed with each vertex's own
    registers as a self-contribution, then ONE groupBy(vertex).max per
    column — the self-merge rides the same aggregation (no separate left
    join), map-side partial max collapses a hub's fan-in inside each task,
    and sinks keep their own registers via the self row. Pure plan —
    tools/plan_audit.py asserts the shape; ``_superstep`` adds the
    lineage barrier."""
    # shuffle_hash: the planner's default sort-merge costs an E-sized sort
    # of the cached edge side EVERY superstep plus a V×m sort of the
    # register side (guide §3.1); the hash build of the V-sized register
    # frame removes both, and both sides are already hash-partitioned on
    # the join key (e cached by dst, regs out of the previous gather), so
    # the steady-state join adds no exchange: the superstep plans exactly
    # one, the regroup by vertex (tests/test_superstep.py).
    gathered = e.join(
        regs.withColumnRenamed("vertex", "dst").hint("shuffle_hash"), "dst"
    ).select(
        F.col("src").alias("vertex"), *reg_cols
    )
    return (
        gathered.unionByName(regs.select("vertex", *reg_cols))
        .groupBy("vertex")
        .agg(*[F.max(c).alias(c) for c in reg_cols])
    )


def _register_supersteps(
    edges: DataFrame, verts: DataFrame, max_t: int, p: int, packed: bool
):
    """THE HyperBall loop: yields (t, regs, estimate) for t = 0..max_t.
    A register layout supplies its init, its loop-invariant gather side
    (cached hash-partitioned by its join key ONCE — without it the first
    superstep inherits the raw scan's partitioning, few fat tasks; the
    packed path measured a 272 s straggler from exactly this — and every
    superstep would re-shuffle it), its superstep plan and its estimate
    expression; each superstep is checkpointed. Consumers read the
    registers between supersteps. The gather side is released when the
    loop ends or the generator is closed: consume it with a plain for
    loop, whose unwinding on a consumer failure closes it at once (a
    comprehension's traceback would keep it open)."""
    m = 1 << p
    p_shuffle = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    with cache_scope() as cache:
        if packed:
            regs = _init_regs_packed(verts, p, num_partitions=p_shuffle)
            side = cache(build_transposed_csr(edges, verts, p_shuffle))
            est = _estimate_packed(m)
            plan = lambda r: _superstep_packed_plan(side, r, m)  # noqa: E731
        else:
            reg_cols = [f"r{j}" for j in range(m)]
            regs = _init_regs(verts, p, reg_cols)
            side = cache(edges.select("src", "dst").repartition(p_shuffle, "dst"))
            est = _estimate(m, reg_cols)
            plan = lambda r: _superstep_plan(side, r, reg_cols)  # noqa: E731
        side.count()
        yield 0, regs, est
        for t in range(1, max_t + 1):
            regs = plan(regs).localCheckpoint(eager=True)
            yield t, regs, est


def _nf_rows(
    edges: DataFrame, verts: DataFrame, max_t: int, p: int, packed: bool
) -> DataFrame:
    """(t, nf_est): Σ of the per-vertex estimates after each superstep,
    rounded 4dp HALF_UP to match DuckDB's ROUND (python round() is
    banker's)."""
    rows = []
    for t, regs, est in _register_supersteps(edges, verts, max_t, p, packed):
        # coalesce: SUM over an empty register frame (empty graph) is NULL
        nf = regs.agg(F.coalesce(F.sum(est), F.lit(0.0))).collect()[0][0]
        nf4 = Decimal(repr(float(nf))).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        rows.append((t, float(nf4)))
    return edges.sparkSession.createDataFrame(rows, "t int, nf_est double")


def _harmonic(
    edges: DataFrame, verts: DataFrame, max_t: int, p: int, packed: bool
) -> DataFrame:
    """(vertex, hc): hc += (|ball(t)| − |ball(t−1)|) / t after each
    superstep, accumulated left to right and checkpointed per step."""
    for t, regs, est in _register_supersteps(edges, verts, max_t, p, packed):
        if t == 0:
            state = regs.select("vertex", est.alias("prev"), F.lit(0.0).alias("hc"))
        else:
            cur = regs.select("vertex", est.alias("cur"))
            hc = F.col("hc") + (F.col("cur") - F.col("prev")) / F.lit(float(t))
            state = state.join(cur, "vertex").select(
                "vertex", F.col("cur").alias("prev"), hc.alias("hc")
            )
        state = state.localCheckpoint(eager=True)
    return state.select("vertex", F.round("hc", 4).alias("hc"))


def hyperball(
    edges: DataFrame, verts: DataFrame, max_t: int, p: int = 6
) -> DataFrame:
    """(t, nf_est) for t = 0..max_t — HyperBall estimate of the
    neighbourhood function, rounded 4dp."""
    return _nf_rows(edges, verts, max_t, p, packed=False)


def harmonic_centrality(
    edges: DataFrame, verts: DataFrame, max_t: int, p: int = 6
) -> DataFrame:
    """(vertex, hc) — HyperBall's flagship application (Boldi–Vigna built
    it to compute centralities no exact algorithm reaches at web scale):
    harmonic centrality truncated at max_t,

        hc(v) = Σ_{t=1..max_t} (|ball(v,t)| − |ball(v,t−1)|) / t

    estimated from the same registers, accumulated left-to-right per
    superstep (fixed association order, so the DuckDB oracle can replay
    the identical IEEE additions from exact reachability sets; 4dp
    rounding covers libm ulps). Truncation at max_t is standard for
    HyperBall runs bounded by iteration count; at convergence
    (max_t ≥ diameter) it IS the (outbound) harmonic centrality."""
    return _harmonic(edges, verts, max_t, p, packed=False)


def harmonic_centrality_packed(
    edges: DataFrame, verts: DataFrame, max_t: int, p: int = 10
) -> DataFrame:
    """(vertex, hc) — harmonic centrality from the array-packed registers:
    same per-superstep left-to-right accumulation as
    ``harmonic_centrality``, same estimate arithmetic (the packed fold's
    association order matches the column sum bit-for-bit), so at equal p
    it is hash-identical and runs under the SAME oracle; at p=10+ it is
    the web-scale-precision path the column layout cannot reach."""
    return _harmonic(edges, verts, max_t, p, packed=True)


# --------------------- array-packed register layout ---------------------
# The column layout above caps p≈8 (m aggregate expressions stress
# codegen); web-scale HyperBall runs p=11+ for tight statistics
# (Boldi–Vigna run p up to 14). The packed layout stores all m registers
# in ONE array<int> column, so the frame width is constant in p:
#
#   superstep = gather (edges ⋈ regs, the one shuffle-feeding join)
#             → PARTITION-LOCAL combine (mapInArrow _scatter_combiner:
#               per-partition register table folded with vectorized
#               np.maximum.reduceat — the explicit map-side partial max,
#               exactly what Catalyst's partial_max does for the column
#               layout; a hub's fan-in collapses to ≤ 1 row per
#               (partition, vertex) BEFORE the shuffle, and the Python
#               cost is Arrow-batched numpy, not per-row eval)
#             → final merge: repartition(vertex) (the V-sized partial
#               shuffle) + a second mapInArrow fold (_packed_combiner)
#               that collapses the ≤ P partial rows per vertex inside
#               each hash partition — Arrow/numpy, exact elementwise max.
#
# Python appears here because Spark has no built-in elementwise-array-max
# AGGREGATE (max on arrays is lexicographic; exploding m registers per
# row would multiply the shuffle by m) — this is the sanctioned
# "built-ins genuinely can't express it" case, and the kernel is
# vectorized np.maximum.reduceat over Arrow batches.
# Estimates are IDENTICAL to the column layout: same hash, same
# registers, same left-to-right harmonic fold (all terms exact powers of
# two), so the packed path runs under the SAME DuckDB oracle.


def _init_regs_packed(
    verts: DataFrame, p: int, num_partitions: int | None = None
) -> DataFrame:
    m = 1 << p
    idx, rho = _rho_and_idx(F.col("vertex"), p)
    # tinyint registers: rho ≤ 33−p < 128, and int8 is what crosses the
    # Arrow boundary in the partial combine — 8× less transfer than int64.
    # Built as zeros ++ [rho] ++ zeros: the earlier transform(sequence(m))
    # evaluated a branchy lambda per REGISTER (V·m evals — 11.7 s for
    # 100k vertices at p=10, the dominant init cost); array_repeat writes
    # the same array without per-element conditionals (~10× faster).
    zero = F.lit(0).cast("tinyint")
    regs = F.concat(
        F.array_repeat(zero, idx),
        F.array(rho.cast("tinyint")),
        F.array_repeat(zero, F.lit(m - 1) - idx),
    )
    out = verts.select("vertex", regs.alias("regs"))
    if num_partitions:
        out = out.repartition(num_partitions, "vertex")
    return out.localCheckpoint(eager=True)


def _acc_fold(acc_v, acc_m, vs, mat):
    """Fold (vs, mat) rows into the (acc_v, acc_m) register table via
    sort + np.maximum.reduceat — one row per distinct vertex."""
    import numpy as np

    if acc_v is not None:
        vs = np.concatenate([acc_v, vs])
        mat = np.concatenate([acc_m, mat])
    order = np.argsort(vs, kind="stable")
    vs = vs[order]
    mat = mat[order]
    uq, starts = np.unique(vs, return_index=True)
    return uq, np.maximum.reduceat(mat, starts, axis=0)


def _emit_regs(acc_v, acc_m, m: int):
    import numpy as np
    import pyarrow as pa

    n = len(acc_v)
    offsets = pa.array(
        np.arange(0, (n + 1) * m, m, dtype=np.int32), type=pa.int32()
    )
    regs_arr = pa.ListArray.from_arrays(
        offsets, pa.array(acc_m.reshape(-1), type=pa.int8())
    )
    return pa.RecordBatch.from_arrays(
        [pa.array(acc_v, type=pa.int64()), regs_arr], ["vertex", "regs"]
    )


def _flat_regs(b, col: str, m: int):
    import numpy as np

    flat = (
        b.column(col)
        .flatten()
        .to_numpy(zero_copy_only=False)
        .astype(np.int8, copy=False)
    )
    return flat.reshape(-1, m)


def _packed_combiner(m: int):
    """mapInArrow partial-combine: fold each partition's (vertex, regs)
    rows into one row per distinct vertex via vectorized elementwise max
    over the FLAT int8 value buffer (every list has exactly m entries, so
    the Arrow child array reshapes to (n, m) with zero per-row Python
    objects). State is the partition-local register table
    (distinct-vertices × m bytes — the same bound as a per-thread
    HyperBall register file)."""

    def gen(batches):
        acc_v = None
        acc_m = None
        for b in batches:
            if b.num_rows == 0:
                continue
            vs = b.column("vertex").to_numpy(zero_copy_only=False)
            acc_v, acc_m = _acc_fold(acc_v, acc_m, vs, _flat_regs(b, "regs", m))
        if acc_v is not None:
            yield _emit_regs(acc_v, acc_m, m)

    return gen


# Peak bytes one scatter fold step may materialize for the gathered
# register matrix (mat[rep] below). Bounds task memory INDEPENDENTLY of
# row sizes and Arrow batch shapes: even if an unsegmented hub row or a
# fat batch arrives, the fan-out is sliced flat-wise into ≤ this many
# bytes per np.maximum.reduceat fold. 128 MiB ≈ 128 Ki flat srcs at p=10.
SCATTER_FANOUT_BYTES = 128 << 20


def _scatter_combiner(m: int):
    """mapInArrow scatter+combine over the TRANSPOSED CSR: input rows are
    (srcs array<long>, regs array<tinyint>) — one per destination-vertex
    SEGMENT (build_transposed_csr splits hub in-neighbor lists), carrying
    a chunk of its in-neighbor list and its registers. The E-sized
    fan-out (each src receives its successor's registers) happens INSIDE
    numpy (np.repeat row-gather) in flat slices of ≤ SCATTER_FANOUT_BYTES,
    each immediately folded to ≤1 partial row per (partition, src) — so
    the JVM plan stays V-sized end to end, the join never materializes
    per-edge register rows (measured 4.5× faster than the edge-join form
    on cnr-2000), and peak task memory is bounded regardless of hub
    fan-in (a 1e7-in-degree hub at p=10 would otherwise gather ~10 GB in
    one allocation)."""

    def gen(batches):
        import numpy as np

        max_flat = max(1, SCATTER_FANOUT_BYTES // m)
        acc_v = None
        acc_m = None
        for b in batches:
            if b.num_rows == 0:
                continue
            srcs = b.column("srcs")
            counts = np.asarray(
                srcs.value_lengths().to_numpy(zero_copy_only=False),
                dtype=np.int64,
            )
            flat_src = srcs.flatten().to_numpy(zero_copy_only=False)
            mat = _flat_regs(b, "regs", m)
            # rep is FLAT-indexed (one entry per src), so any flat slice
            # is a valid fold unit — no row alignment needed to chunk
            rep = np.repeat(np.arange(len(counts)), counts)
            for a in range(0, len(flat_src), max_flat):
                sl = slice(a, min(a + max_flat, len(flat_src)))
                acc_v, acc_m = _acc_fold(acc_v, acc_m, flat_src[sl], mat[rep[sl]])
        if acc_v is not None:
            yield _emit_regs(acc_v, acc_m, m)

    return gen


def _superstep_packed_plan(csr_t: DataFrame, regs: DataFrame, m: int) -> DataFrame:
    """One packed superstep: the cached self-looped transposed CSR (dst,
    srcs) is hash(dst, P)-partitioned, the scatter join is a shuffle-hash
    join of two V-sized frames, and the fan-out + map-side partial max
    run inside Arrow/numpy. A steady-state superstep plans TWO V-sized
    exchanges (tests/test_superstep.py): the register state into the join
    — the mapInArrow fold's output does not carry a known hash(vertex, P)
    partitioning — and the partial shuffle back to hash(vertex, P) for the
    final partition-local fold. The self-contribution (v's own ball) rides the
    CSR's self-loop rows — NOT a union branch: a union whose self branch
    shares the regs frame's LogicalRDD with the join input trips a
    Catalyst mapInArrow binding bug (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND),
    and the self-loop form is one fewer scan anyway."""
    r2 = regs.select(F.col("vertex").alias("_rv"), F.col("regs").alias("_rr"))
    t2 = csr_t.select(F.col("dst").alias("_td"), F.col("srcs").alias("srcs"))
    joined = t2.join(
        r2.hint("shuffle_hash"), F.col("_td") == F.col("_rv")
    ).select("srcs", F.col("_rr").alias("regs"))
    schema = "vertex long, regs array<tinyint>"
    partials = joined.mapInArrow(_scatter_combiner(m), schema)
    return partials.repartition("vertex").mapInArrow(_packed_combiner(m), schema)


def build_transposed_csr(
    edges: DataFrame,
    verts: DataFrame,
    num_partitions: int,
    max_segment: int = 4096,
) -> DataFrame:
    """(dst, srcs array<long>) hash-partitioned by dst, WITH a self-loop
    per vertex (so every vertex appears and its own registers contribute
    to its ball — the superstep's self-merge, folded into the data) — the
    loop-invariant gather side of the packed HyperBall superstep.

    Hub DESTINATIONS are SEGMENTED (build_csr_segments' discipline on the
    transpose, graph_build.py:111): each in-edge gets a deterministic
    segment ``pmod(xxhash64(src), ceil(indeg/max_segment))`` BEFORE the
    collect, so no collect_list buffer, no parquet/Arrow row, and no
    scatter gather ever holds a 1e7-in-degree hub's full list — a hub
    becomes ceil(indeg/max_segment) rows of ~max_segment srcs each. The
    superstep join key stays ``dst`` (the regs row joins once per
    segment, duplicating m bytes per extra segment — ~1 KiB at p=10) and
    _acc_fold's partial max merges duplicate-vertex partials, so
    segmentation composes with zero semantic change. The one-time build
    pays an extra E-sized indeg join; the loop is unchanged."""
    with_self = edges.select("src", "dst").unionByName(
        verts.select(F.col("vertex").alias("src"), F.col("vertex").alias("dst"))
    )
    indeg = with_self.groupBy("dst").agg(F.count("*").cast("long").alias("_indeg"))
    nseg = F.greatest(
        F.lit(1), F.ceil(F.col("_indeg") / F.lit(max_segment)).cast("int")
    )
    return (
        with_self.join(indeg, "dst")
        .withColumn("_seg", F.pmod(F.xxhash64("src"), nseg))
        .groupBy("dst", "_seg")
        .agg(F.collect_list("src").alias("srcs"))
        .select("dst", "srcs")
        .repartition(num_partitions, "dst")
    )


def _estimate_packed(m: int):
    """Same HLL estimate as ``_estimate`` from the packed register array —
    left-to-right fold over registers 0..m-1, so the harmonic sum's
    association order matches the column layout bit-for-bit (all terms
    exact powers of two — order-free anyway)."""
    harm = F.aggregate(
        "regs",
        F.lit(0.0),
        lambda acc, r: acc + F.pow(F.lit(2.0), -r.cast("double")),
    )
    zeros = F.size(F.filter("regs", lambda r: r == F.lit(0)))
    raw = F.lit(hll_alpha(m) * m * m) / harm
    lin = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    return F.when(
        (raw <= F.lit(HB_LIN_FACTOR * m)) & (zeros > 0), lin
    ).otherwise(raw)


def hyperball_packed(
    edges: DataFrame, verts: DataFrame, max_t: int, p: int = 10
) -> DataFrame:
    """(t, nf_est) — HyperBall on the array-packed register layout: the
    precision-unbounded path (p=10+ where the column layout's m-aggregate
    frame stops being sensible). Estimates are identical to ``hyperball``
    at equal p (same hash, same registers, same fold order), so the gate
    runs it under the SAME oracle."""
    return _nf_rows(edges, verts, max_t, p, packed=True)


def effective_diameter(
    edges: DataFrame,
    verts: DataFrame,
    max_t: int,
    p: int = 6,
    q: float = 0.9,
) -> DataFrame:
    """1-row (q, d_eff): the effective diameter at quantile ``q`` — the
    (interpolated) hop count within which a fraction q of all reachable
    pairs connect. THE headline statistic HyperANF/HyperBall was built to
    measure at web scale (Boldi–Vigna's "four degrees of separation"
    result is exactly this number on the Facebook graph).

    Convention: smallest t with NF(t) ≥ q·NF(max_t), linearly interpolated
    between t−1 and t. Computed from the 4dp-ROUNDED NF estimates that
    ``hyperball`` returns, so engine and oracle interpolate from
    bit-identical inputs and the result is deterministic."""
    spark = edges.sparkSession
    rows = sorted((r.t, r.nf_est) for r in hyperball(edges, verts, max_t, p).collect())
    target = q * rows[-1][1]
    d = float(max_t)
    for t, nf in rows:
        if nf >= target:
            if t == 0:
                d = 0.0
            else:
                prev = rows[t - 1][1]
                d = (t - 1) + (target - prev) / (nf - prev)
            break
    d6 = float(Decimal(repr(d)).quantize(Decimal("0.000001"), ROUND_HALF_UP))
    return spark.createDataFrame([(q, d6)], "q double, d_eff double")


def harmonic_centrality_exact(
    edges: DataFrame, verts: DataFrame, max_t: int
) -> DataFrame:
    """(vertex, hc) — EXACT bounded harmonic centrality: HC(x) =
    Σ_{v≠x, d(v→x) ≤ max_t} 1/d(v→x), the same statistic the packed-HLL
    harmonic gate estimates (harmonic_centrality_packed) computed exactly
    — viable when the reachable ball is bounded (clustered graphs,
    per-community subgraphs), the exact/approx pairing the NF family
    already has (neighborhood_function_exact vs hyperball).

    The same per-source ball expansion as neighborhood_function_exact:
    the level at which a (v, u) pair FIRST appears is the exact directed
    distance d(v→u). The 1/d terms are small-denominator rationals
    (1, 1/2, 1/3 … — sums land exactly on decimal half-grids), so the
    per-vertex sum folds in sorted source order from 0.0 on both engines
    (the betweenness discipline) and rounds bit-stably."""
    hc = (
        _balls_of_every_vertex(edges, verts, max_t)
        .where(F.col("dist") >= 1)
        .select(
            F.col("vertex").alias("u"),
            F.struct(
                F.col("v"), (F.lit(1.0) / F.col("dist").cast("double")).alias("t")
            ).alias("vt"),
        )
        .groupBy("u")
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("vt")),
                    F.lit(0.0),
                    lambda acc, s: acc + s["t"],
                ),
                6,
            ).alias("hc")
        )
    )
    return (
        verts.join(hc, verts["vertex"] == hc["u"], "left")
        .select("vertex", F.coalesce("hc", F.lit(0.0)).alias("hc"))
    )
