"""DuckDB oracle SQL builders for every oracle-comparable engine query.

These strings are the independent ground truth the driver runs side-by-side
with the Spark queries (order-insensitive value-hash). Iterative algorithms
are expressed as *unrolled* fixed-iteration CTE chains (PageRank, LP) or a
recursive reachability CTE (connected components — exact min-label
semantics). Float constants are embedded via ``repr`` of the exact Python
double the engine uses, and every float expression mirrors the engine's
association order, so Spark and DuckDB execute the same IEEE-754 ops.
"""

from __future__ import annotations

from .derived_graph import clustered_edges_sql, hash_edges_sql, vertices_sql

_D = 0.85  # damping, must match engine default


def _graph_ctes() -> str:
    return (
        f"edges AS ({hash_edges_sql()}),\n"
        f"verts AS ({vertices_sql()}),\n"
        f"und AS (SELECT DISTINCT src, dst FROM ("
        f"SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges))"
    )


def _clustered_ctes() -> str:
    return (
        f"cedges AS ({clustered_edges_sql()}),\n"
        f"verts AS ({vertices_sql()}),\n"
        f"cund AS (SELECT DISTINCT src, dst FROM ("
        f"SELECT src, dst FROM cedges UNION ALL SELECT dst AS src, src AS dst FROM cedges))"
    )


def degree_distribution_sql() -> str:
    return (
        f"WITH {_graph_ctes()},\n"
        f"od AS (SELECT v.vertex, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS outdeg"
        f" FROM verts v LEFT JOIN (SELECT src AS vertex, COUNT(*) AS cnt FROM edges GROUP BY 1) c"
        f" USING (vertex))\n"
        f"SELECT outdeg, COUNT(*) AS n_vertices FROM od GROUP BY outdeg"
    )


def successors_sql() -> str:
    return (
        f"WITH {_graph_ctes()}\n"
        f"SELECT src AS vertex,"
        f" string_agg(CAST(dst AS VARCHAR), ',' ORDER BY dst) AS succs\n"
        f"FROM edges GROUP BY src"
    )


def successors_layouts_sql(tags: tuple[str, ...]) -> str:
    """Tagged union of the canonical successor table, one copy per storage
    layout the engine round-trips (segmented / gaps / refs / bitpacked /
    chain-root point reads …). Every layout must reproduce the SAME
    adjacency, so the oracle is the base successor list cross-tagged —
    one registry slot gates them all (the driver's correctness sweep
    stops at 50 rows, so near-duplicate gates are consolidated)."""
    unions = " UNION ALL ".join(
        f"SELECT '{t}' AS layout, vertex, succs FROM base" for t in tags
    )
    return (
        f"WITH {_graph_ctes()},\n"
        f"base AS (SELECT src AS vertex,"
        f" string_agg(CAST(dst AS VARCHAR), ',' ORDER BY dst) AS succs"
        f" FROM edges GROUP BY src)\n" + unions
    )


def num_nodes_arcs_sql() -> str:
    return (
        f"WITH {_graph_ctes()}\n"
        f"SELECT (SELECT COUNT(*) FROM verts) AS num_nodes,"
        f" (SELECT COUNT(*) FROM edges) AS num_arcs"
    )


def pagerank_sql(num_iter: int = 5, damping: float = _D, round_dp: int = 8) -> str:
    """Unrolled power iteration mirroring operators/pagerank.py float-op
    order: w = 1.0/outdeg precomputed, contribution = pr*w,
    base = (1-d)/n + d*dm/n (driver-side scalar), pr = base + d*g."""
    one_minus_d = repr(1.0 - damping)  # exact python double, e.g. 0.15000000000000002
    d = repr(damping)
    n = "(SELECT CAST(COUNT(*) AS DOUBLE) FROM verts)"
    ctes = [
        _graph_ctes(),
        (
            "od AS (SELECT v.vertex, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS outdeg,"
            " CAST(1.0 AS DOUBLE) / COALESCE(c.cnt, 1) AS w"
            " FROM verts v LEFT JOIN (SELECT src AS vertex, COUNT(*) AS cnt"
            " FROM edges GROUP BY 1) c USING (vertex))"
        ),
        f"r0 AS (SELECT vertex, CAST(1.0 AS DOUBLE) / {n} AS pr FROM verts)",
    ]
    for i in range(1, num_iter + 1):
        p = i - 1
        ctes.append(
            f"dm{i} AS (SELECT COALESCE(SUM(r.pr), CAST(0.0 AS DOUBLE)) AS m"
            f" FROM r{p} r JOIN od USING (vertex) WHERE od.outdeg = 0)"
        )
        ctes.append(
            f"s{i} AS (SELECT e.dst AS vertex, SUM(r.pr * od.w) AS g"
            f" FROM edges e JOIN r{p} r ON r.vertex = e.src"
            f" JOIN od ON od.vertex = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT v.vertex,"
            f" (CAST({one_minus_d} AS DOUBLE) / {n}"
            f" + CAST({d} AS DOUBLE) * (SELECT m FROM dm{i}) / {n})"
            f" + CAST({d} AS DOUBLE) * COALESCE(s.g, CAST(0.0 AS DOUBLE)) AS pr"
            f" FROM verts v LEFT JOIN s{i} s USING (vertex))"
        )
    body = ",\n".join(ctes)
    return f"WITH {body}\nSELECT vertex, ROUND(pr, {round_dp}) AS pr FROM r{num_iter}"


def pagerank_converged_sql(
    max_iter: int = 35, damping: float = 0.5, tol: float = 1e-6, round_dp: int = 6
) -> str:
    """Convergence-mode PageRank oracle on the CLUSTERED graph: unroll
    ``max_iter`` iterations plus an L1-delta CTE per iteration, then select
    the ranks of the FIRST iteration whose delta <= tol — exactly the
    engine's tol-loop stopping rule (operators/pagerank.py), including the
    reported iteration count. Engine and oracle compute the L1 sum in
    different float orders, but consecutive deltas differ by ~1/damping
    (geometric convergence), so a ~1e-15 relative summation difference can
    never flip the threshold comparison."""
    one_minus_d = repr(1.0 - damping)
    d = repr(damping)
    n = "(SELECT CAST(COUNT(*) AS DOUBLE) FROM verts)"
    # every r_i is referenced 4x (dm, s, delta, all_r); DuckDB inlines
    # non-materialized CTEs per reference, which is exponential in the
    # unroll depth -- MATERIALIZED keeps the oracle linear
    ctes = [
        _clustered_ctes(),
        (
            "od AS MATERIALIZED (SELECT v.vertex, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS outdeg,"
            " CAST(1.0 AS DOUBLE) / COALESCE(c.cnt, 1) AS w"
            " FROM verts v LEFT JOIN (SELECT src AS vertex, COUNT(*) AS cnt"
            " FROM cedges GROUP BY 1) c USING (vertex))"
        ),
        f"r0 AS MATERIALIZED (SELECT vertex, CAST(1.0 AS DOUBLE) / {n} AS pr FROM verts)",
    ]
    for i in range(1, max_iter + 1):
        p = i - 1
        ctes.append(
            f"dm{i} AS (SELECT COALESCE(SUM(r.pr), CAST(0.0 AS DOUBLE)) AS m"
            f" FROM r{p} r JOIN od USING (vertex) WHERE od.outdeg = 0)"
        )
        ctes.append(
            f"s{i} AS (SELECT e.dst AS vertex, SUM(r.pr * od.w) AS g"
            f" FROM cedges e JOIN r{p} r ON r.vertex = e.src"
            f" JOIN od ON od.vertex = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT v.vertex,"
            f" (CAST({one_minus_d} AS DOUBLE) / {n}"
            f" + CAST({d} AS DOUBLE) * (SELECT m FROM dm{i}) / {n})"
            f" + CAST({d} AS DOUBLE) * COALESCE(s.g, CAST(0.0 AS DOUBLE)) AS pr"
            f" FROM verts v LEFT JOIN s{i} s USING (vertex))"
        )
        ctes.append(
            f"delta{i} AS (SELECT SUM(ABS(a.pr - b.pr)) AS d"
            f" FROM r{i} a JOIN r{p} b USING (vertex))"
        )
    deltas = " UNION ALL ".join(
        f"SELECT {i} AS it, (SELECT d FROM delta{i}) AS d" for i in range(1, max_iter + 1)
    )
    all_r = " UNION ALL ".join(
        f"SELECT {i} AS it, vertex, pr FROM r{i}" for i in range(1, max_iter + 1)
    )
    ctes.append(f"deltas AS ({deltas})")
    ctes.append(
        f"conv AS (SELECT MIN(it) AS j FROM deltas WHERE d <= {repr(tol)})"
    )
    ctes.append(f"all_r AS ({all_r})")
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT vertex, ROUND(pr, {round_dp}) AS pr,"
        f" CAST(j AS BIGINT) AS iters FROM all_r, conv WHERE it = j"
    )


def connected_components_sql() -> str:
    """Exact reachability-based min label on the clustered graph (components
    are <= CLUSTER_GROUP nodes, so the closure is tiny)."""
    return (
        f"WITH RECURSIVE {_clustered_ctes()},\n"
        f"r(v, l) AS (\n"
        f"  SELECT vertex, vertex FROM verts\n"
        f"  UNION\n"
        f"  SELECT u.dst, r.l FROM r JOIN cund u ON u.src = r.v\n"
        f")\n"
        f"SELECT v AS vertex, MIN(l) AS component FROM r GROUP BY v"
    )


def label_propagation_sql(num_iter: int = 2) -> str:
    """Unrolled synchronous LP on the clustered graph; argmax neighbor label,
    ties -> smallest label; no-neighbor vertices keep their label."""
    ctes = [
        _clustered_ctes(),
        "l0 AS (SELECT vertex, vertex AS label FROM verts)",
    ]
    for i in range(1, num_iter + 1):
        p = i - 1
        ctes.append(
            f"h{i} AS (SELECT u.src AS vertex, l.label AS nbr_label, COUNT(*) AS cnt"
            f" FROM cund u JOIN l{p} l ON l.vertex = u.dst GROUP BY 1, 2)"
        )
        ctes.append(
            f"b{i} AS (SELECT vertex, nbr_label FROM ("
            f"SELECT vertex, nbr_label,"
            f" ROW_NUMBER() OVER (PARTITION BY vertex ORDER BY cnt DESC, nbr_label ASC) AS rn"
            f" FROM h{i}) WHERE rn = 1)"
        )
        ctes.append(
            f"l{i} AS (SELECT v.vertex, COALESCE(b.nbr_label, l.label) AS label"
            f" FROM verts v JOIN l{p} l USING (vertex) LEFT JOIN b{i} b USING (vertex))"
        )
    body = ",\n".join(ctes)
    return f"WITH {body}\nSELECT vertex, label FROM l{num_iter}"


def label_propagation_converged_sql(max_iter: int = 8) -> str:
    """Unrolled convergence-mode LP (self-vote variant, mirroring
    operators/labelprop.py label_propagation_converged): per superstep the
    histogram counts neighbor labels PLUS one self vote; chg_i counts
    vertices whose label changed; conv = the first superstep with zero
    changes; emits that superstep's labels with the iteration count — so
    agreement gates the converged labels AND iterations-to-stability
    (the pagerank_converged oracle pattern). Integer-only: no float
    freedom anywhere, the comparison is exact."""
    ctes = [
        _clustered_ctes(),
        "cl0 AS MATERIALIZED (SELECT vertex, vertex AS label FROM verts)",
    ]
    for i in range(1, max_iter + 1):
        p = i - 1
        ctes.append(
            f"ch{i} AS (SELECT vertex, nbr_label, COUNT(*) AS cnt FROM ("
            f"SELECT u.src AS vertex, l.label AS nbr_label"
            f" FROM cund u JOIN cl{p} l ON l.vertex = u.dst"
            f" UNION ALL SELECT vertex, label FROM cl{p}) GROUP BY 1, 2)"
        )
        ctes.append(
            f"cb{i} AS (SELECT vertex, nbr_label FROM ("
            f"SELECT vertex, nbr_label,"
            f" ROW_NUMBER() OVER (PARTITION BY vertex ORDER BY cnt DESC, nbr_label ASC) AS rn"
            f" FROM ch{i}) WHERE rn = 1)"
        )
        ctes.append(
            f"cl{i} AS MATERIALIZED (SELECT v.vertex,"
            f" COALESCE(b.nbr_label, l.label) AS label"
            f" FROM verts v JOIN cl{p} l USING (vertex)"
            f" LEFT JOIN cb{i} b USING (vertex))"
        )
        ctes.append(
            f"cchg{i} AS (SELECT COUNT(*) AS c FROM cl{i} a JOIN cl{p} b"
            f" USING (vertex) WHERE a.label <> b.label)"
        )
    chgs = " UNION ALL ".join(
        f"SELECT {i} AS it, (SELECT c FROM cchg{i}) AS c"
        for i in range(1, max_iter + 1)
    )
    all_l = " UNION ALL ".join(
        f"SELECT {i} AS it, vertex, label FROM cl{i}"
        for i in range(1, max_iter + 1)
    )
    ctes.append(f"cchgs AS ({chgs})")
    ctes.append("cconv AS (SELECT MIN(it) AS j FROM cchgs WHERE c = 0)")
    ctes.append(f"call_l AS ({all_l})")
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT vertex, label, CAST(j AS BIGINT) AS iters"
        f" FROM call_l, cconv WHERE it = j"
    )


def label_propagation_modes_sql(num_iter: int = 2, max_iter: int = 8) -> str:
    """Fixed-iteration and converged LP in one mode-tagged union (the
    consolidated-gate pattern: one registry slot, each branch still
    value-hashed against its own unrolled oracle)."""
    return (
        f"SELECT 'fixed2' AS mode, vertex, label,"
        f" CAST({num_iter} AS BIGINT) AS iters"
        f" FROM ({label_propagation_sql(num_iter)})"
        f" UNION ALL SELECT 'converged' AS mode, vertex, label, iters"
        f" FROM ({label_propagation_converged_sql(max_iter)})"
    )


def triangles_per_vertex_sql() -> str:
    return (
        f"WITH {_graph_ctes()},\n"
        f"o AS (SELECT src AS a, dst AS b FROM und WHERE src < dst),\n"
        f"tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c FROM o e1"
        f" JOIN o e2 ON e2.a = e1.b"
        f" JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b),\n"
        f"parts AS (SELECT a AS vertex FROM tri UNION ALL SELECT b FROM tri"
        f" UNION ALL SELECT c FROM tri)\n"
        f"SELECT v.vertex, CAST(COALESCE(p.n, 0) AS BIGINT) AS n_tri FROM verts v"
        f" LEFT JOIN (SELECT vertex, COUNT(*) AS n FROM parts GROUP BY 1) p USING (vertex)"
    )


def predecessors_sql() -> str:
    """Transposed adjacency: in-neighbors as canonical sorted strings."""
    return (
        f"WITH {_graph_ctes()}\n"
        f"SELECT dst AS vertex,"
        f" string_agg(CAST(src AS VARCHAR), ',' ORDER BY src) AS preds\n"
        f"FROM edges GROUP BY dst"
    )


def simplify_sql() -> str:
    """Symmetrized loop-free graph (the `und` CTE IS the simplify
    transform) as canonical successor strings."""
    return (
        f"WITH {_graph_ctes()}\n"
        f"SELECT src AS vertex,"
        f" string_agg(CAST(dst AS VARCHAR), ',' ORDER BY dst) AS succs\n"
        f"FROM und GROUP BY src"
    )


def host_graph_sql() -> str:
    """Quotient graph over documents.source (the host-graph construction):
    page-level arcs collapsed to (src_host, dst_host, links)."""
    return (
        f"WITH {_graph_ctes()},\n"
        f"m AS (SELECT CAST(doc_id AS BIGINT) AS v, source FROM documents)\n"
        f"SELECT ms.source AS src_host, md.source AS dst_host,"
        f" COUNT(*) AS links\n"
        f"FROM edges e JOIN m ms ON e.src = ms.v JOIN m md ON e.dst = md.v\n"
        f"GROUP BY 1, 2"
    )


def _reach_ctes(max_t: int) -> str:
    """r0..r{max_t}: ordered pairs (v, u) with a directed path of length
    ≤ t over the clustered graph. MATERIALIZED — DuckDB inlines CTEs per
    reference and each r_k is referenced twice."""
    out = ["r0 AS MATERIALIZED (SELECT vertex AS v, vertex AS u FROM verts)"]
    for t in range(1, max_t + 1):
        out.append(
            f"r{t} AS MATERIALIZED (SELECT DISTINCT v, u FROM ("
            f"SELECT r.v AS v, e.dst AS u FROM r{t-1} r"
            f" JOIN cedges e ON r.u = e.src"
            f" UNION ALL SELECT v, u FROM r{t-1}) x)"
        )
    return ",\n".join(out)


def neighborhood_function_sql(max_t: int = 4) -> str:
    unions = " UNION ALL ".join(
        f"SELECT {t} AS t, COUNT(*) AS nf FROM r{t}" for t in range(max_t + 1)
    )
    return f"WITH {_clustered_ctes()},\n{_reach_ctes(max_t)}\n{unions}"


def _hll_common(p: int):
    """Shared pieces of the HLL oracles: (m, alpha·m² repr, hs CTE). The
    hs CTE replays the engine's exact 32-bit xor-shift/multiply mix in
    all-BIGINT SQL (shiftright of a non-negative == // 2^k; constants
    imported from the operator so the two sides cannot drift), and rho is
    the exact integer bit length — no float log anywhere."""
    from ..operators.neighborhood import (
        HB_A1,
        HB_B1,
        HB_C1,
        HB_C2,
        hll_alpha,
    )

    m = 1 << p
    alpha_mm = repr(hll_alpha(m) * m * m)
    maxr = 32 - p + 1
    # the engine's exact 32-bit xor-shift/multiply mix, all-BIGINT
    # (shiftright of a non-negative == // 2^k; constants imported so the
    # two sides cannot drift)
    hs = (
        "hs AS MATERIALIZED (SELECT u,"
        f" h % {m} AS j,"
        f" CASE WHEN h // {m} = 0 THEN {maxr}"
        f" ELSE {33 - p} - length(bin(h // {m})) END AS rho"
        " FROM (SELECT u, xor(x4, x4 // 65536) AS h FROM ("
        f"  SELECT u, (x3 * {HB_C2}) % 4294967296 AS x4 FROM ("
        "   SELECT u, xor(x2, x2 // 32768) AS x3 FROM ("
        f"    SELECT u, (x1 * {HB_C1}) % 4294967296 AS x2 FROM ("
        "     SELECT u, xor(h0, h0 // 65536) AS x1 FROM ("
        # negative-safe mod-2^32 pre-reduction mirrors Spark's pmod, and
        # keeps the first multiply's operand < 2^32 (HB_A1 < 2^31 → the
        # product stays < 2^63 for ANY int64 vertex id)
        f"      SELECT vertex AS u, (((CAST(vertex AS BIGINT) % 4294967296"
        f" + 4294967296) % 4294967296) * {HB_A1}"
        f" + {HB_B1}) % 4294967296 AS h0 FROM verts"
        ") q0) q1) q2) q3) q4) q5)"
    )
    return m, alpha_mm, hs


def _lin_factor() -> float:
    from ..operators.neighborhood import HB_LIN_FACTOR

    return HB_LIN_FACTOR


def _hll_est_body(t: int, m: int, alpha_mm: str) -> str:
    """Per-vertex HLL estimate of |ball(v, t)| from the exact reach set
    r{t} and the hs register CTE — the engine's _estimate formula verbatim
    (harmonic mean + linear-counting small-range branch)."""
    return (
        f"SELECT v, CASE WHEN raw <= {repr(_lin_factor() * m)} AND zeros > 0"
        f"  THEN {float(m)} * ln({float(m)} / zeros) ELSE raw END AS est"
        f" FROM ("
        f"  SELECT v, {alpha_mm} / harm AS raw, zeros FROM ("
        f"   SELECT rg.v AS v,"
        f"    ({m} - COUNT(*)) * 1.0 + SUM(pow(2.0, -reg)) AS harm,"
        f"    {m} - COUNT(*) AS zeros"
        f"   FROM (SELECT rr.v AS v, s.j, MAX(s.rho) AS reg"
        f"         FROM r{t} rr JOIN hs s ON rr.u = s.u"
        f"         GROUP BY rr.v, s.j) rg"
        f"   GROUP BY rg.v) h0) h1"
    )


def hyperball_sql(max_t: int = 4, p: int = 6) -> str:
    """HyperBall reproduced EXACTLY in SQL from the exact reachability
    sets: same mixed hash, same integer bit-length rho, same
    harmonic-mean + linear-counting estimate, same 4dp rounding. The
    harmonic sums are sums of ≤ m exact powers of two (order-independent
    in IEEE double), so the only cross-engine float freedom is libm ulps
    — far below the rounding."""
    m, alpha_mm, hs = _hll_common(p)
    return (
        f"WITH {_clustered_ctes()},\n{_reach_ctes(max_t)},\n{hs}\n"
        + _nf_unions(max_t, m, alpha_mm)
    )


def _nf_unions(max_t: int, m: int, alpha_mm: str) -> str:
    return " UNION ALL ".join(
        f"SELECT {t} AS t, ROUND(SUM(est), 4) AS nf_est FROM ("
        + _hll_est_body(t, m, alpha_mm)
        + ") h2"
        for t in range(max_t + 1)
    )


def effective_diameter_sql(max_t: int = 4, p: int = 6, q: float = 0.9) -> str:
    """Effective diameter at quantile q from the SAME 4dp-rounded NF
    estimates the engine interpolates over — bit-identical inputs, the
    same (t−1) + (target − NF(t−1))/(NF(t) − NF(t−1)) arithmetic, 6dp
    rounding."""
    m, alpha_mm, hs = _hll_common(p)
    qr = repr(q)
    return (
        f"WITH {_clustered_ctes()},\n{_reach_ctes(max_t)},\n{hs},\n"
        f"nfq AS ({_nf_unions(max_t, m, alpha_mm)}),\n"
        f"tgt AS (SELECT CAST({qr} AS DOUBLE) *"
        f" (SELECT nf_est FROM nfq WHERE t = {max_t}) AS x),\n"
        f"hit AS (SELECT MIN(t) AS t FROM nfq"
        f" WHERE nf_est >= (SELECT x FROM tgt))\n"
        f"SELECT CAST({qr} AS DOUBLE) AS q,"
        f" ROUND(CASE WHEN h.t = 0 THEN CAST(0.0 AS DOUBLE)"
        f" ELSE (h.t - 1) + ((SELECT x FROM tgt) - pv.nf_est)"
        f" / (c.nf_est - pv.nf_est) END, 6) AS d_eff"
        f" FROM hit h LEFT JOIN nfq c ON c.t = h.t"
        f" LEFT JOIN nfq pv ON pv.t = h.t - 1"
    )


def harmonic_centrality_sql(max_t: int = 4, p: int = 6) -> str:
    """Truncated harmonic centrality from the SAME per-t HLL estimates,
    accumulated in the engine's exact left-to-right association order
    ((d1 + d2) + d3) + … so both engines execute identical IEEE adds on
    identical inputs; 4dp rounding covers libm ulps."""
    m, alpha_mm, hs = _hll_common(p)
    est_ctes = ",\n".join(
        f"est{t} AS MATERIALIZED ({_hll_est_body(t, m, alpha_mm)})"
        for t in range(max_t + 1)
    )
    terms = " + ".join(
        f"(e{t}.est - e{t-1}.est) / {float(t)}" for t in range(1, max_t + 1)
    )
    joins = " ".join(
        f"JOIN est{t} e{t} ON e0.v = e{t}.v" for t in range(1, max_t + 1)
    )
    return (
        f"WITH {_clustered_ctes()},\n{_reach_ctes(max_t)},\n{hs},\n{est_ctes}\n"
        f"SELECT e0.v AS vertex, ROUND({terms}, 4) AS hc"
        f" FROM est0 e0 {joins}"
    )


def bfs_distances_sql(max_t: int = 4, seed_mod: int = 101) -> str:
    """Min-hop distances from the deterministic seed set
    (vertex % seed_mod == 0) on the clustered graph: dist(u) = MIN t such
    that some seed reaches u within t hops — read directly off the exact
    reachability CTEs."""
    unions = " UNION ALL ".join(
        f"SELECT r.u AS vertex, {t} AS t FROM r{t} r"
        f" JOIN seeds s ON r.v = s.vertex"
        for t in range(max_t + 1)
    )
    return (
        f"WITH {_clustered_ctes()},\n{_reach_ctes(max_t)},\n"
        f"seeds AS (SELECT vertex FROM verts WHERE vertex % {seed_mod} = 0)\n"
        f"SELECT vertex, MIN(t) AS dist FROM ({unions}) x GROUP BY vertex"
    )


def personalized_pagerank_sql(
    num_iter: int = 5,
    damping: float = 0.85,
    seed_mod: int = 101,
    round_dp: int = 6,
) -> str:
    """Unrolled PPR on the clustered graph, mirroring the engine's float-op
    order: teleport s(v) = 1/|seeds| on vertex % seed_mod == 0, dangling
    mass to seeds, pr = ((1−d) + d·dm)·s + d·g. The engine's per-iteration
    scalar coef is computed by the same IEEE ops; summation-order drift in
    dm/g is ~1e-16 relative, far below the 6dp rounding (the established
    pagerank-oracle budget)."""
    one_minus_d = repr(1.0 - damping)
    d = repr(damping)
    ctes = [
        _clustered_ctes(),
        f"seeds AS (SELECT vertex FROM verts WHERE vertex % {seed_mod} = 0)",
        "ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM seeds)",
        (
            "sv AS MATERIALIZED (SELECT v.vertex,"
            " CASE WHEN s.vertex IS NOT NULL THEN CAST(1.0 AS DOUBLE) / (SELECT c FROM ns)"
            " ELSE CAST(0.0 AS DOUBLE) END AS s"
            " FROM verts v LEFT JOIN seeds s USING (vertex))"
        ),
        (
            "od AS MATERIALIZED (SELECT v.vertex,"
            " CAST(COALESCE(c.cnt, 0) AS BIGINT) AS outdeg,"
            " CAST(1.0 AS DOUBLE) / COALESCE(c.cnt, 1) AS w"
            " FROM verts v LEFT JOIN (SELECT src AS vertex, COUNT(*) AS cnt"
            " FROM cedges GROUP BY 1) c USING (vertex))"
        ),
        "p0 AS MATERIALIZED (SELECT vertex, s AS pr FROM sv)",
    ]
    for i in range(1, num_iter + 1):
        prev = i - 1
        ctes.append(
            f"pdm{i} AS (SELECT COALESCE(SUM(r.pr), CAST(0.0 AS DOUBLE)) AS m"
            f" FROM p{prev} r JOIN od USING (vertex) WHERE od.outdeg = 0)"
        )
        ctes.append(
            f"pg{i} AS (SELECT e.dst AS vertex, SUM(r.pr * od.w) AS g"
            f" FROM cedges e JOIN p{prev} r ON r.vertex = e.src"
            f" JOIN od ON od.vertex = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"p{i} AS MATERIALIZED (SELECT v.vertex,"
            f" (CAST({one_minus_d} AS DOUBLE)"
            f" + CAST({d} AS DOUBLE) * (SELECT m FROM pdm{i})) * sv.s"
            f" + CAST({d} AS DOUBLE) * COALESCE(g.g, CAST(0.0 AS DOUBLE)) AS pr"
            f" FROM verts v JOIN sv ON sv.vertex = v.vertex"
            f" LEFT JOIN pg{i} g ON g.vertex = v.vertex)"
        )
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT vertex, ROUND(pr, {round_dp}) AS pr FROM p{num_iter}"
    )


def personalized_pagerank_converged_sql(
    max_iter: int = 35,
    damping: float = 0.5,
    seed_mod: int = 101,
    tol: float = 1e-6,
    round_dp: int = 6,
) -> str:
    """Convergence-mode PPR oracle: the `personalized_pagerank_sql`
    iteration body unrolled ``max_iter`` deep plus an L1-delta CTE per
    iteration, selecting the FIRST iteration with delta <= tol and its
    iteration count — the `pagerank_converged_sql` stopping machinery
    applied to the personalized vector. Same MATERIALIZED discipline
    (every p_i is referenced 4x; DuckDB inlines per reference)."""
    one_minus_d = repr(1.0 - damping)
    d = repr(damping)
    ctes = [
        _clustered_ctes(),
        f"seeds AS (SELECT vertex FROM verts WHERE vertex % {seed_mod} = 0)",
        "ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM seeds)",
        (
            "sv AS MATERIALIZED (SELECT v.vertex,"
            " CASE WHEN s.vertex IS NOT NULL THEN CAST(1.0 AS DOUBLE) / (SELECT c FROM ns)"
            " ELSE CAST(0.0 AS DOUBLE) END AS s"
            " FROM verts v LEFT JOIN seeds s USING (vertex))"
        ),
        (
            "od AS MATERIALIZED (SELECT v.vertex,"
            " CAST(COALESCE(c.cnt, 0) AS BIGINT) AS outdeg,"
            " CAST(1.0 AS DOUBLE) / COALESCE(c.cnt, 1) AS w"
            " FROM verts v LEFT JOIN (SELECT src AS vertex, COUNT(*) AS cnt"
            " FROM cedges GROUP BY 1) c USING (vertex))"
        ),
        "p0 AS MATERIALIZED (SELECT vertex, s AS pr FROM sv)",
    ]
    for i in range(1, max_iter + 1):
        prev = i - 1
        ctes.append(
            f"pdm{i} AS (SELECT COALESCE(SUM(r.pr), CAST(0.0 AS DOUBLE)) AS m"
            f" FROM p{prev} r JOIN od USING (vertex) WHERE od.outdeg = 0)"
        )
        ctes.append(
            f"pg{i} AS (SELECT e.dst AS vertex, SUM(r.pr * od.w) AS g"
            f" FROM cedges e JOIN p{prev} r ON r.vertex = e.src"
            f" JOIN od ON od.vertex = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"p{i} AS MATERIALIZED (SELECT v.vertex,"
            f" (CAST({one_minus_d} AS DOUBLE)"
            f" + CAST({d} AS DOUBLE) * (SELECT m FROM pdm{i})) * sv.s"
            f" + CAST({d} AS DOUBLE) * COALESCE(g.g, CAST(0.0 AS DOUBLE)) AS pr"
            f" FROM verts v JOIN sv ON sv.vertex = v.vertex"
            f" LEFT JOIN pg{i} g ON g.vertex = v.vertex)"
        )
        ctes.append(
            f"pdelta{i} AS (SELECT SUM(ABS(a.pr - b.pr)) AS d"
            f" FROM p{i} a JOIN p{prev} b USING (vertex))"
        )
    deltas = " UNION ALL ".join(
        f"SELECT {i} AS it, (SELECT d FROM pdelta{i}) AS d"
        for i in range(1, max_iter + 1)
    )
    all_p = " UNION ALL ".join(
        f"SELECT {i} AS it, vertex, pr FROM p{i}" for i in range(1, max_iter + 1)
    )
    ctes.append(f"pdeltas AS ({deltas})")
    ctes.append(
        f"pconv AS (SELECT MIN(it) AS j FROM pdeltas WHERE d <= {repr(tol)})"
    )
    ctes.append(f"all_p AS ({all_p})")
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT vertex, ROUND(pr, {round_dp}) AS pr,"
        f" CAST(j AS BIGINT) AS iters FROM all_p, pconv WHERE it = j"
    )


def scc_sql(max_t: int = 20) -> str:
    """SCC ground truth from the bounded closure (clustered components
    hold ≤ CLUSTER_GROUP=20 vertices, so depth-20 reachability IS the
    closure): scc_id(v) = MIN u with v →* u AND u →* v (the (v,v) pair
    from r0 guarantees every vertex appears)."""
    return (
        f"WITH {_clustered_ctes()},\n{_reach_ctes(max_t)}\n"
        f"SELECT a.v AS vertex, MIN(a.u) AS scc_id\n"
        f"FROM r{max_t} a JOIN r{max_t} b ON a.v = b.u AND a.u = b.v\n"
        f"GROUP BY a.v"
    )


def hits_sql(num_iter: int = 3, round_dp: int = 6) -> str:
    """HITS unrolled: the identical sum-normalized half-steps the engine
    executes (operators/hits.py) — auth gather by dst, normalize by the
    raw total, hub gather by src, normalize. MATERIALIZED per half-step
    keeps DuckDB's planner linear in the unroll depth (the
    pagerank_converged_sql discipline)."""
    ctes = [
        _graph_ctes(),
        "h0 AS MATERIALIZED (SELECT vertex, CAST(1.0 AS DOUBLE) AS hub FROM verts)",
    ]
    for i in range(1, num_iter + 1):
        ctes.append(
            f"ar{i} AS MATERIALIZED (SELECT e.dst AS vertex, SUM(h.hub) AS raw"
            f" FROM edges e JOIN h{i-1} h ON e.src = h.vertex GROUP BY e.dst)"
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT v.vertex,"
            f" COALESCE(r.raw, CAST(0.0 AS DOUBLE))"
            f" / (SELECT COALESCE(SUM(raw), CAST(1.0 AS DOUBLE)) FROM ar{i}) AS auth"
            f" FROM verts v LEFT JOIN ar{i} r USING (vertex))"
        )
        ctes.append(
            f"hr{i} AS MATERIALIZED (SELECT e.src AS vertex, SUM(a.auth) AS raw"
            f" FROM edges e JOIN a{i} a ON e.dst = a.vertex GROUP BY e.src)"
        )
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT v.vertex,"
            f" COALESCE(r.raw, CAST(0.0 AS DOUBLE))"
            f" / (SELECT COALESCE(SUM(raw), CAST(1.0 AS DOUBLE)) FROM hr{i}) AS hub"
            f" FROM verts v LEFT JOIN hr{i} r USING (vertex))"
        )
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT a.vertex, ROUND(a.auth, {round_dp}) AS auth,"
        f" ROUND(h.hub, {round_dp}) AS hub"
        f" FROM a{num_iter} a JOIN h{num_iter} h USING (vertex)"
    )


def kcore_sql(k: int = 3, max_rounds: int = 32) -> str:
    """k-core peel unrolled to ``max_rounds`` (operators/kcore.py runs the
    same bound and RAISES if unconverged, so a green gate certifies the
    unroll covered the fixpoint). Each round keeps the edges whose BOTH
    endpoints had degree ≥ k in the previous round's survivor edge set —
    integer-only, no float freedom."""
    ctes = [_graph_ctes(), "s0 AS MATERIALIZED (SELECT src, dst FROM und)"]
    for i in range(1, max_rounds + 1):
        ctes.append(
            f"k{i} AS MATERIALIZED (SELECT src AS v FROM s{i-1}"
            f" GROUP BY src HAVING COUNT(*) >= {k})"
        )
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT e.src, e.dst FROM s{i-1} e"
            f" JOIN k{i} a ON e.src = a.v JOIN k{i} b ON e.dst = b.v)"
        )
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT src AS vertex, COUNT(*) AS core_deg"
        f" FROM s{max_rounds} GROUP BY src"
    )


def adamic_adar_sql(
    center_cap: int = 64, top_n: int = 200, round_dp: int = 6
) -> str:
    """Adamic–Adar with the identical center-degree cap and rounded-score
    top-N cut as operators/linkpred.py: rank on the ROUNDED score (desc,
    u, v) so the LIMIT boundary is deterministic across engines."""
    return (
        f"WITH {_graph_ctes()},\n"
        f"dg AS (SELECT src AS w, COUNT(*) AS d FROM und GROUP BY src),\n"
        f"legs AS MATERIALIZED (SELECT u.src AS w, u.dst AS n,"
        f" CAST(1.0 AS DOUBLE) / LN(CAST(dg.d AS DOUBLE)) AS wt"
        f" FROM und u JOIN dg ON u.src = dg.w"
        f" WHERE dg.d >= 2 AND dg.d <= {center_cap}),\n"
        f"pairs AS (SELECT l1.n AS u, l2.n AS v,"
        f" ROUND(SUM(l1.wt), {round_dp}) AS aa"
        f" FROM legs l1 JOIN legs l2 ON l1.w = l2.w AND l1.n < l2.n"
        f" GROUP BY l1.n, l2.n),\n"
        f"cand AS (SELECT p.u, p.v, p.aa FROM pairs p"
        f" LEFT JOIN und e ON p.u = e.src AND p.v = e.dst"
        f" WHERE e.src IS NULL)\n"
        f"SELECT u, v, aa FROM cand ORDER BY aa DESC, u, v LIMIT {top_n}"
    )


def hyperball_layouts_sql(tags: tuple[str, ...], max_t: int = 4, p: int = 6) -> str:
    """The hyperball estimate cross-tagged per storage layout — every
    layout must reproduce bit-identical estimates (the consolidated-gate
    pattern of successors_layouts_sql; one registry slot gates them all)."""
    vals = ", ".join(f"('{t}')" for t in tags)
    return (
        f"SELECT tg.layout, b.t, b.nf_est FROM ({hyperball_sql(max_t, p)}) b"
        f" CROSS JOIN (VALUES {vals}) tg(layout)"
    )


def harmonic_layouts_sql(
    p_tags: dict[str, int], max_t: int = 4
) -> str:
    """Harmonic centrality per (layout tag → register precision p) — equal-p
    layouts must agree bit-identically, so same-p tags share one subquery
    via cross join; distinct-p tags union their own replay."""
    by_p: dict[int, list[str]] = {}
    for tag, p in p_tags.items():
        by_p.setdefault(p, []).append(tag)
    parts = []
    for p, tags in sorted(by_p.items()):
        vals = ", ".join(f"('{t}')" for t in sorted(tags))
        parts.append(
            f"SELECT tg.layout, b.vertex, b.hc"
            f" FROM ({harmonic_centrality_sql(max_t, p)}) b"
            f" CROSS JOIN (VALUES {vals}) tg(layout)"
        )
    return " UNION ALL ".join(parts)


def transitivity_sql(round_dp: int = 6) -> str:
    """Global clustering coefficient 3·T/W from the same id-oriented
    triangle join and C(deg,2) wedge count the engine computes; d·(d−1)/2
    is integer-exact, and 3·T/W is one double division — the only float
    op — so 6dp rounding is pure formality."""
    return (
        f"WITH {_graph_ctes()},\n"
        "o AS (SELECT src AS a, dst AS b FROM und WHERE src < dst),\n"
        "tri AS (SELECT COUNT(*) AS n_triangles FROM o e1"
        " JOIN o e2 ON e1.b = e2.a JOIN o e3 ON e1.a = e3.a AND e2.b = e3.b),\n"
        "dg AS (SELECT src, COUNT(*) AS d FROM und GROUP BY src),\n"
        "w AS (SELECT CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT)"
        " AS n_wedges FROM dg)\n"
        "SELECT tri.n_triangles, w.n_wedges,"
        f" ROUND(CASE WHEN w.n_wedges > 0 THEN 3.0 * tri.n_triangles /"
        f" w.n_wedges ELSE 0.0 END, {round_dp}) AS global_cc"
        " FROM tri, w"
    )


def degrees_inout_sql() -> str:
    """Consolidated out/in degree gate: both per-vertex degree reads under
    one dir-tagged union (registry-cap consolidation, the
    successors_layouts pattern)."""
    return (
        f"WITH {_graph_ctes()},\n"
        "od AS (SELECT v.vertex, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS deg"
        " FROM verts v LEFT JOIN (SELECT src AS vertex, COUNT(*) AS cnt"
        " FROM edges GROUP BY 1) c USING (vertex)),\n"
        "ind AS (SELECT v.vertex, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS deg"
        " FROM verts v LEFT JOIN (SELECT dst AS vertex, COUNT(*) AS cnt"
        " FROM edges GROUP BY 1) c USING (vertex))\n"
        "SELECT 'out' AS dir, vertex, deg FROM od"
        " UNION ALL SELECT 'in' AS dir, vertex, deg FROM ind"
    )


def graph_global_stats_sql() -> str:
    """Long-form global summary mirroring graph_global_stats: counts are
    exact; density/avg_outdeg/reciprocity/assortativity are single float
    divisions (plus DuckDB's streaming Pearson, which differs from
    Spark's only by summation order, ~1e-12) — 6dp rounding on both
    sides."""
    return (
        f"WITH {_graph_ctes()},\n"
        "e AS MATERIALIZED (SELECT src, dst FROM edges WHERE src <> dst),\n"
        "nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),\n"
        "tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m_all,"
        " CAST(COALESCE(SUM(CASE WHEN src = dst THEN 1 ELSE 0 END), 0)"
        " AS DOUBLE) AS loops FROM edges),\n"
        "recip AS (SELECT CAST(COUNT(*) AS DOUBLE) AS r FROM e"
        " WHERE EXISTS (SELECT 1 FROM e x WHERE x.src = e.dst AND x.dst = e.src)),\n"
        "od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),\n"
        "ind AS (SELECT dst, COUNT(*) AS id_ FROM e GROUP BY dst),\n"
        "asrt AS (SELECT CASE WHEN sx * sy = 0 THEN NULL ELSE cxy / (sx * sy)"
        " END AS a FROM (SELECT COVAR_POP(CAST(od.od AS DOUBLE),"
        " CAST(ind.id_ AS DOUBLE)) AS cxy,"
        " STDDEV_POP(CAST(od.od AS DOUBLE)) AS sx,"
        " STDDEV_POP(CAST(ind.id_ AS DOUBLE)) AS sy"
        " FROM e JOIN od ON od.src = e.src JOIN ind ON ind.dst = e.dst) z)\n"
        "SELECT * FROM (\n"
        "SELECT 'n_vertices' AS metric, n AS value FROM nv\n"
        "UNION ALL SELECT 'n_arcs', m_all FROM tot\n"
        "UNION ALL SELECT 'n_self_loops', loops FROM tot\n"
        "UNION ALL SELECT 'density', ROUND((m_all - loops) / (n * (n - 1.0)), 6)"
        " FROM nv, tot\n"
        "UNION ALL SELECT 'avg_outdeg', ROUND((m_all - loops) / n, 6) FROM nv, tot\n"
        "UNION ALL SELECT 'reciprocity', ROUND(r / (m_all - loops), 6)"
        " FROM recip, tot\n"
        "UNION ALL SELECT 'assortativity_out_in', ROUND(a, 6) FROM asrt\n"
        ") x"
    )


def betweenness_sql(max_t: int = 4, seed_mod: int = 101) -> str:
    """Unrolled Brandes from the deterministic seed set
    (vertex % seed_mod = 0) with shortest paths truncated at max_t hops,
    on the main hashed graph. Forward CTEs d0..d{max_t} carry exact
    shortest-path counts sigma (integer-valued doubles — reorder-proof);
    backward CTEs b{max_t}..b1 accumulate delta(v) = the fold over
    next-level successors of sigma_v/sigma_w * (1 + delta_w) — term-for-
    term the engine's expression. Dependency values are small-denominator
    rationals that routinely land EXACTLY on decimal half-grids, so the
    sums are NOT round-stable under reorder; both engines therefore fold
    in sorted order (successor dst; final cross-seed sum by seed) from a
    0.0 accumulator — identical IEEE adds on identical inputs, bit-equal
    doubles into the final ROUND (the HLL-oracle discipline)."""
    ctes = [
        _graph_ctes(),
        f"seeds AS (SELECT vertex FROM verts WHERE vertex % {seed_mod} = 0)",
        "d0 AS MATERIALIZED (SELECT vertex AS seed, vertex AS v,"
        " CAST(1 AS DOUBLE) AS sigma FROM seeds)",
        "s0 AS MATERIALIZED (SELECT seed, v FROM d0)",
    ]
    for t in range(1, max_t + 1):
        ctes.append(
            f"d{t} AS MATERIALIZED (SELECT p.seed, e.dst AS v, SUM(p.sigma) AS sigma"
            f" FROM d{t-1} p JOIN edges e ON e.src = p.v"
            f" LEFT JOIN s{t-1} s ON s.seed = p.seed AND s.v = e.dst"
            f" WHERE s.v IS NULL GROUP BY p.seed, e.dst)"
        )
        ctes.append(
            f"s{t} AS MATERIALIZED (SELECT seed, v FROM s{t-1}"
            f" UNION ALL SELECT seed, v FROM d{t})"
        )
    ctes.append(
        f"b{max_t} AS MATERIALIZED (SELECT seed, v, CAST(0 AS DOUBLE) AS delta"
        f" FROM d{max_t})"
    )
    for t in range(max_t - 1, 0, -1):
        ctes.append(
            f"b{t} AS MATERIALIZED (SELECT d.seed, d.v,"
            f" CASE WHEN COUNT(w.sigma) = 0 THEN CAST(0 AS DOUBLE)"
            f" ELSE list_reduce("
            f"list(d.sigma / w.sigma * (CAST(1 AS DOUBLE) + bw.delta)"
            f" ORDER BY e.dst) FILTER (WHERE w.sigma IS NOT NULL),"
            f" (a, b) -> a + b) END AS delta"
            f" FROM d{t} d"
            f" LEFT JOIN edges e ON e.src = d.v"
            f" LEFT JOIN d{t+1} w ON w.seed = d.seed AND w.v = e.dst"
            f" LEFT JOIN b{t+1} bw ON bw.seed = d.seed AND bw.v = e.dst"
            f" GROUP BY d.seed, d.v)"
        )
    unions = " UNION ALL ".join(
        f"SELECT seed, v, delta FROM b{t}" for t in range(1, max_t + 1)
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        f"SELECT v AS vertex,"
        f" ROUND(list_reduce(list(delta ORDER BY seed), (a, b) -> a + b), 4)"
        f" AS bc FROM ({unions}) x GROUP BY v"
    )


def pagerank_weighted_sql(
    num_iter: int = 5, damping: float = _D, round_dp: int = 6
) -> str:
    """Unrolled WEIGHTED power iteration mirroring pagerank_weighted's
    float-op order: arc weight wt = 1 + ((src%97) + 3*(dst%97)) % 5 (the
    gate's deterministic weighting, int-exact), per-arc share computed as
    (wt / tw) FIRST then multiplied by pr — the engine pre-normalizes
    wn = wt/tw at CSR build, so both engines execute the same division
    then the same multiply; gather summation order differs ~1e-16
    relative, far below the 6dp rounding (the pagerank-oracle budget)."""
    one_minus_d = repr(1.0 - damping)
    d = repr(damping)
    n = "(SELECT CAST(COUNT(*) AS DOUBLE) FROM verts)"
    ctes = [
        _graph_ctes(),
        (
            "ew AS MATERIALIZED (SELECT src, dst,"
            " CAST(1 + ((src % 97) + 3 * (dst % 97)) % 5 AS DOUBLE) AS wt"
            " FROM edges)"
        ),
        (
            "tw AS MATERIALIZED (SELECT src, SUM(wt) AS tw, COUNT(*) AS cnt"
            " FROM ew GROUP BY src)"
        ),
        (
            "od AS MATERIALIZED (SELECT v.vertex,"
            " CAST(COALESCE(t.cnt, 0) AS BIGINT) AS outdeg"
            " FROM verts v LEFT JOIN tw t ON t.src = v.vertex)"
        ),
        f"r0 AS (SELECT vertex, CAST(1.0 AS DOUBLE) / {n} AS pr FROM verts)",
    ]
    for i in range(1, num_iter + 1):
        p = i - 1
        ctes.append(
            f"dm{i} AS (SELECT COALESCE(SUM(r.pr), CAST(0.0 AS DOUBLE)) AS m"
            f" FROM r{p} r JOIN od USING (vertex) WHERE od.outdeg = 0)"
        )
        ctes.append(
            f"s{i} AS (SELECT e.dst AS vertex,"
            f" SUM(r.pr * (e.wt / t.tw)) AS g"
            f" FROM ew e JOIN r{p} r ON r.vertex = e.src"
            f" JOIN tw t ON t.src = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT v.vertex,"
            f" (CAST({one_minus_d} AS DOUBLE) / {n}"
            f" + CAST({d} AS DOUBLE) * (SELECT m FROM dm{i}) / {n})"
            f" + CAST({d} AS DOUBLE) * COALESCE(s.g, CAST(0.0 AS DOUBLE)) AS pr"
            f" FROM verts v LEFT JOIN s{i} s USING (vertex))"
        )
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT vertex, ROUND(pr, {round_dp}) AS pr FROM r{num_iter}"
    )


def partition_modularity_sql(round_dp: int = 6) -> str:
    """Newman modularity of the documents.source (host) partition on the
    undirected simple view — mirrors graphstats.partition_modularity
    term-for-term: integer-exact counts, per-community term
    (intra2/2m) − (deg2/2m)², cross-community sum as an ORDER BY sg
    list_reduce fold (the betweenness half-grid discipline)."""
    return (
        f"WITH {_graph_ctes()},\n"
        "m AS (SELECT CAST(doc_id AS BIGINT) AS v, source FROM documents),\n"
        "mm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS twom FROM und),\n"
        "lab AS (SELECT ms.source AS sg, md.source AS dg FROM und e"
        " JOIN m ms ON e.src = ms.v JOIN m md ON e.dst = md.v),\n"
        "per AS (SELECT sg, CAST(COUNT(*) AS DOUBLE) AS deg2,"
        " CAST(COALESCE(SUM(CASE WHEN sg = dg THEN 1 ELSE 0 END), 0)"
        " AS DOUBLE) AS intra2 FROM lab GROUP BY sg)\n"
        "SELECT 'modularity_hosts' AS metric,"
        f" ROUND(list_reduce(list((intra2 / (SELECT twom FROM mm))"
        f" - (deg2 / (SELECT twom FROM mm)) * (deg2 / (SELECT twom FROM mm))"
        f" ORDER BY sg), (a, b) -> a + b), {round_dp}) AS value FROM per"
    )


def harmonic_exact_sql(max_t: int = 4, round_dp: int = 6) -> str:
    """Exact bounded harmonic centrality on the clustered graph: distances
    read off the exact reachability CTEs (min t per ordered pair), 1/d
    terms folded per target in sorted source order (list_reduce ORDER BY v
    — the betweenness half-grid discipline; 1/d are small-denominator
    rationals), unreached vertices at 0.0."""
    unions = " UNION ALL ".join(
        f"SELECT v, u, {t} AS t FROM r{t}" for t in range(1, max_t + 1)
    )
    return (
        f"WITH {_clustered_ctes()},\n{_reach_ctes(max_t)},\n"
        f"dists AS (SELECT v, u, MIN(t) AS d FROM ({unions}) x"
        f" WHERE v <> u GROUP BY v, u),\n"
        f"hcb AS (SELECT u, ROUND(list_reduce("
        f"list(CAST(1.0 AS DOUBLE) / CAST(d AS DOUBLE) ORDER BY v),"
        f" (a, b) -> a + b), {round_dp}) AS hc FROM dists GROUP BY u)\n"
        f"SELECT ve.vertex, COALESCE(h.hc, CAST(0.0 AS DOUBLE)) AS hc"
        f" FROM verts ve LEFT JOIN hcb h ON h.u = ve.vertex"
    )
