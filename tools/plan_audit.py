"""Physical-plan audit: verify the plans Catalyst produces are the ones a
100 TB deployment needs (pushdown, pruning, partial aggregation, broadcast,
codegen). Prints a PASS/FAIL line per property; run after operator changes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from webgraph_ans_rs_spark.operators.degrees import outdegrees  # noqa: E402
from webgraph_ans_rs_spark.operators.graph_build import (  # noqa: E402
    build_csr_adjacency,
)
from webgraph_ans_rs_spark.operators.relational import pricing_summary  # noqa: E402
from webgraph_ans_rs_spark.operators.superstep import conf_scope  # noqa: E402
from webgraph_ans_rs_spark.plans.derived_graph import hash_edges, vertices  # noqa: E402
from webgraph_ans_rs_spark.session import get_spark  # noqa: E402
from webgraph_ans_rs_spark.sources.tables import load_table  # noqa: E402

SF = "/root/testdata/sf0.01"
AQE = "spark.sql.adaptive.enabled"
checks: list[tuple[str, bool, str]] = []


def check(name: str, ok: bool, detail: str = "") -> None:
    checks.append((name, ok, detail))
    print(f"[{'PASS' if ok else 'FAIL'}] {name} {detail}")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return str(df._jdf.queryExecution().optimizedPlan())


def main() -> int:
    spark = get_spark("plan-audit", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, SF, "documents")
    li = load_table(spark, SF, "lineitem")

    # 1. column pruning: projecting 2 cols reads only 2 cols from parquet
    two = docs.select("doc_id", "lang")
    p = plan_of(two)
    check(
        "column-pruning: documents 2-col projection",
        "ReadSchema: struct<doc_id:bigint,lang:string>" in p,
    )

    # 2. filter pushdown reaches the scan
    flt = li.where(F.col("l_quantity") > 49.0).select("l_orderkey")
    p = plan_of(flt)
    check(
        "filter-pushdown: lineitem l_quantity>49",
        "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,49.0)" in p,
        "",
    )

    # 3. partial aggregation before the shuffle (map-side combine)
    edges = hash_edges(docs, docs.count())
    deg = outdegrees(edges, vertices(docs))
    p = plan_of(deg)
    check(
        "partial-agg: outdegree groupBy has map-side partial_count",
        "partial_count" in p or "HashAggregate(keys=[src" in p,
    )

    # 4. pricing summary: whole-stage codegen covers the aggregation
    # (materialize first — AQE only finalizes codegen spans on execution)
    ps = pricing_summary(li)
    ps.collect()  # finalize AQE on THIS plan, not a derived count() plan
    p = plan_of(ps)
    # '*(n)' prefixes mark WholeStageCodegen spans in compact plan strings
    check(
        "codegen: pricing summary inside WholeStageCodegen",
        "WholeStageCodegen" in p or "*(1)" in p,
    )
    check("partial-agg: pricing summary partial_sum", "partial_sum" in p)

    # 5. small-dim join broadcasts
    nation = load_table(spark, SF, "nation")
    cust = load_table(spark, SF, "customer")
    j = cust.join(nation, cust["c_nationkey"] == nation["n_nationkey"])
    j.count()  # let AQE finalize
    p = plan_of(j)
    check("broadcast: customer ⋈ nation uses BroadcastHashJoin", "BroadcastHashJoin" in p)

    # 6. CSR point lookup prunes partitions after repartition-by-src write
    adj = build_csr_adjacency(edges, num_buckets=8)
    one = adj.where(F.col("src") == 42)
    op = optimized_of(one)
    check(
        "csr-lookup: filter sits below the aggregate (pushed through plan)",
        "Filter" in op,
    )

    # 7. no Python UDFs in pure-relational plans
    check("jvm-only: degree plan has no BatchEvalPython", "BatchEvalPython" not in plan_of(deg))

    # 9. pagerank superstep plans exactly ONE exchange (the E-sized gather):
    # the scatter join must be exchange- and sort-free (co-partitioned csr +
    # preserved rank partitioning + shuffle_hash). AQE disabled so the
    # static plan tree is walkable; cached build plans are not children of
    # InMemoryTableScan, so the walk counts only per-superstep exchanges.
    from webgraph_ans_rs_spark.operators.pagerank import superstep_probe

    def count_nodes(jplan, name: str) -> int:
        total = 1 if name in jplan.nodeName() else 0
        kids = jplan.children()
        for i in range(kids.length()):
            total += count_nodes(kids.apply(i), name)
        return total

    with conf_scope(spark, AQE, "false"):
        pr_caches: list = []
        step2 = superstep_probe(edges, vertices(docs), release_caches=pr_caches)
        jplan = step2._jdf.queryExecution().executedPlan()
        n_exchange = count_nodes(jplan, "Exchange")
        n_sort = count_nodes(jplan, "Sort")
        n_shj = count_nodes(jplan, "ShuffledHashJoin")
        check(
            "pagerank-superstep: exactly 1 exchange, 0 sorts, shuffle-hash join",
            n_exchange == 1 and n_sort == 0 and n_shj == 1,
            f"(exchanges={n_exchange} sorts={n_sort} shj={n_shj})",
        )
        for c in pr_caches:  # plan inspected — release the probe caches
            c.unpersist(blocking=False)

    # 10. pipeline hot paths are JVM-only and partial-aggregated: the dedup
    # and similarity operators must never plan a Python eval in their
    # relational stages (the engine's "UDFs are the slow path" rule)
    from webgraph_ans_rs_spark.operators import dedup as dd
    from webgraph_ans_rs_spark.operators import similarity as simop

    sim_emb = docs.limit(64).select(
        F.col("doc_id").alias("vec_id"),
        F.array(*[(F.col("doc_id") * (i + 1) % 17).cast("float") / 17 for i in range(8)]).alias(
            "embedding"
        ),
    )
    pipeline_plans = {
        "simhash_pairs": plan_of(dd.simhash_dup_pairs(docs.limit(64))),
        "minhash_lsh": plan_of(dd.minhash_lsh_pairs(docs.limit(64))),
        "neardup_lsh": plan_of(
            simop.cosine_neardup_pairs_lsh(sim_emb, dim=8, bands=2, planes_per_band=4)
        ),
    }
    bad = [n for n, p in pipeline_plans.items() if "BatchEvalPython" in p or "ArrowEvalPython" in p]
    check(
        "jvm-only: dedup/similarity hot paths have no Python eval nodes",
        not bad,
        f"(python-eval in: {bad})" if bad else "",
    )
    # the signature aggregation is audited on the builder frame: the pair
    # plan now reads the signatures through a materialized barrier
    # (ExistingRDD), so its plan no longer CONTAINS the aggregation
    check(
        "partial-agg: simhash signature sums are map-side combined",
        "partial_sum" in plan_of(dd.simhash(docs.limit(64))),
    )

    # 11. label propagation's argmax is an aggregation (map-side partial
    # min_by), NOT a per-vertex window sort — the hub-safe reducer shape
    # (a web hub has 1e7+ distinct neighbor labels; a window puts them all
    # in one task's sort)
    from webgraph_ans_rs_spark.operators.labelprop import _argmax_labels
    from webgraph_ans_rs_spark.plans.derived_graph import undirected_symmetrize

    und = undirected_symmetrize(edges)
    labels = vertices(docs).select("vertex", F.col("vertex").alias("label"))
    hist = (
        und.join(labels.withColumnRenamed("vertex", "nv"), und["dst"] == F.col("nv"))
        .groupBy(und["src"].alias("vertex"), F.col("label").alias("nbr_label"))
        .agg(F.count("*").alias("cnt"))
    )
    lp_plan = plan_of(_argmax_labels(hist))
    check(
        "lp-argmax: aggregation with partial min_by, no Window",
        "partial_min_by" in lp_plan and "Window" not in lp_plan,
    )

    # 12. gap codec is a pure column transform: encode_gaps adds ZERO
    # exchanges over its input plan (the storage layout must not cost a
    # shuffle at 100 TB — it rides the CSR build's existing one)
    from webgraph_ans_rs_spark.operators.graph_build import encode_gaps

    def count_in(df, name: str) -> int:
        return count_nodes(df._jdf.queryExecution().executedPlan(), name)

    with conf_scope(spark, AQE, "false"):
        adj_plan = build_csr_adjacency(edges, num_buckets=8)
        n_before = count_in(adj_plan, "Exchange")
        n_after = count_in(encode_gaps(adj_plan, int_gaps=True), "Exchange")
        check(
            "gap-codec: encode_gaps adds no exchange",
            n_after == n_before,
            f"(before={n_before} after={n_after})",
        )

    # 13. HyperBall superstep: register max-merge is a map-side partial
    # aggregation with no Python and no Window — a hub's 1e7-edge fan-in
    # must collapse to one row per (task, vertex) before the shuffle
    from webgraph_ans_rs_spark.operators.neighborhood import (
        _init_regs,
        _superstep_plan,
    )

    hb_verts = vertices(docs)
    hb_regs = _init_regs(hb_verts, 6, [f"r{j}" for j in range(64)], eager=False)
    hb_plan = plan_of(_superstep_plan(edges, hb_regs, [f"r{j}" for j in range(64)]))
    check(
        "hyperball-superstep: partial_max merge, no Python, no Window",
        "partial_max" in hb_plan
        and "BatchEvalPython" not in hb_plan
        and "Window" not in hb_plan,
    )

    # 14. SCC coloring step: the forward MAX propagation is a map-side
    # partial aggregation keyed by vertex id — never a window, never a
    # join keyed on the converging color (the CC reducer discipline)
    from webgraph_ans_rs_spark.operators.scc import _coloring_candidates

    scc_color = vertices(docs).select("vertex", F.col("vertex").alias("color"))
    scc_plan = plan_of(_coloring_candidates(edges, scc_color))
    check(
        "scc-coloring: partial_max propagation, no Window",
        "partial_max" in scc_plan and "Window" not in scc_plan,
    )

    # 17. personalized PageRank superstep: inherits the flagship loop's
    # single-exchange discipline — exactly ONE exchange (the gather), no
    # sorts, both the scatter and the teleport-apply joins shuffle-hash
    # over co-partitioned sides
    from webgraph_ans_rs_spark.operators.pagerank import ppr_superstep_probe

    with conf_scope(spark, AQE, "false"):
        ppr_seeds = vertices(docs).limit(5).select("vertex")
        probe_caches: list = []
        ppr2 = ppr_superstep_probe(
            edges, vertices(docs), ppr_seeds, release_caches=probe_caches
        )
        jplan = ppr2._jdf.queryExecution().executedPlan()
        n_exchange = count_nodes(jplan, "Exchange")
        n_sort = count_nodes(jplan, "Sort")
        n_shj = count_nodes(jplan, "ShuffledHashJoin")
        check(
            "ppr-superstep: exactly 1 exchange, 0 sorts, shuffle-hash joins",
            n_exchange == 1 and n_sort == 0 and n_shj == 2,
            f"(exchanges={n_exchange} sorts={n_sort} shj={n_shj})",
        )
        for c in probe_caches:  # plan inspected — release the probe caches
            c.unpersist(blocking=False)

    # 18. SCC finalization: the giant-root path must be a BROADCAST join
    # (the engine's only label-keyed join otherwise funnels the giant
    # SCC's ~25%-of-V rows through one shuffle partition), and the
    # per-root (size, min) canonicalization must be map-side partial
    from webgraph_ans_rs_spark.operators.scc import finalize_assignments

    assigned_probe = vertices(docs).select(
        "vertex", (F.col("vertex") % 7).alias("root")
    )
    # the (size, min) canonicalization agg is checkpointed inside
    # finalize_assignments, so its partial-agg shape is audited on the
    # same expression separately
    stats_plan = plan_of(
        assigned_probe.groupBy("root").agg(
            F.count("*").alias("n"), F.min("vertex").alias("scc_id")
        )
    )
    fin_plan = plan_of(finalize_assignments(assigned_probe))
    check(
        "scc-finalize: giant roots via BroadcastHashJoin, partial_min agg",
        "BroadcastHashJoin" in fin_plan
        and "Window" not in fin_plan
        and "partial_min" in stats_plan,
    )

    # 19. Adamic–Adar: the wedge stage stays JVM-side (no Python eval
    # nodes), the pair aggregation has a map-side partial sum — the deg²
    # wedge fan-out must pre-combine before it shuffles — and the legs
    # frame enters the self-join as a MATERIALIZED barrier (ExistingRDD
    # from localCheckpoint): both wedge sides read the same computed-once
    # blocks instead of re-running the symmetrize + degree join twice
    from webgraph_ans_rs_spark.operators.linkpred import adamic_adar

    aa_plan = plan_of(adamic_adar(edges, top_n=50))
    check(
        "adamic-adar: JVM-only wedge join, partial_sum agg, legs barrier",
        "BatchEvalPython" not in aa_plan
        and "ArrowEvalPython" not in aa_plan
        and "partial_sum" in aa_plan
        and "ExistingRDD" in aa_plan,
    )

    # 20. HITS half-step: inherits the flagship loop's single-exchange
    # discipline — exactly ONE exchange (the gather), 0 sorts, the
    # scatter join shuffle-hash over co-partitioned CSR + score
    from webgraph_ans_rs_spark.operators.hits import hits_halfstep_probe

    with conf_scope(spark, AQE, "false"):
        hits_caches: list = []
        hs = hits_halfstep_probe(edges, vertices(docs), release_caches=hits_caches)
        hs_jplan = hs._jdf.queryExecution().executedPlan()
        hs_exchange = count_nodes(hs_jplan, "Exchange")
        hs_sort = count_nodes(hs_jplan, "Sort")
        hs_shj = count_nodes(hs_jplan, "ShuffledHashJoin")
        check(
            "hits-halfstep: exactly 1 exchange, 0 sorts, shuffle-hash join",
            hs_exchange == 1 and hs_sort == 0 and hs_shj == 1,
            f"(exchanges={hs_exchange} sorts={hs_sort} shj={hs_shj})",
        )
        for c in hits_caches:
            c.unpersist(blocking=False)

    # 21. IVF assignment: the n×C scored candidates must collapse via a
    # MAP-SIDE partial_max before the exchange (never a Window over the
    # n×C frame), with the codebook entering by broadcast
    from webgraph_ans_rs_spark.operators.similarity import _as_double, ivf_assign

    emb_probe = load_table(spark, SF, "embeddings").select(
        F.col("vec_id").alias("vb"), _as_double(F.col("embedding")).alias("v")
    )
    cents_probe = emb_probe.where(F.col("vb") % 31 == 0).select(
        F.col("vb").alias("cid"), F.col("v").alias("cv")
    )
    ivf_plan = plan_of(ivf_assign(emb_probe, cents_probe))
    check(
        "ivf-assign: map-side partial_max argmax, broadcast codebook, no Window",
        "partial_max" in ivf_plan
        and "Broadcast" in ivf_plan
        and "Window" not in ivf_plan,
    )

    # 22. Betweenness: the whole sampled-Brandes pipeline (forward sigma
    # supersteps + backward dependency folds) must stay JVM-only — no
    # Python eval in the loop — with the forward sigma aggregation
    # map-side combinable (partial_sum before its exchange) and no
    # Window anywhere (the dependency fold is a sorted-array aggregate,
    # not a per-vertex window sort)
    from webgraph_ans_rs_spark.operators.betweenness import (
        betweenness_sampled,
        brandes_forward_probe,
    )

    bt_seeds = vertices(docs).where(F.col("vertex") % 101 == 0)
    bt_fwd = plan_of(brandes_forward_probe(edges, bt_seeds))
    bt_plan = plan_of(betweenness_sampled(edges, bt_seeds, 2))
    check(
        "betweenness: partial_sum sigma forward, partial collect fold, JVM-only, no Window",
        "partial_sum" in bt_fwd
        and "partial_collect_list" in bt_plan
        and all(
            tok not in bt_fwd + bt_plan
            for tok in ("BatchEvalPython", "ArrowEvalPython", "Window")
        ),
    )

    # 23. vocab_stats: the top-N must be TakeOrderedAndProject
    # (per-partition heads + driver merge), never a global Sort+Limit or
    # a Window; both aggregation stages map-side combinable
    from webgraph_ans_rs_spark.operators.textstats import vocab_stats

    vs_plan = plan_of(vocab_stats(docs, top_n=500))
    check(
        "vocab-stats: TakeOrderedAndProject top-N, partial aggs, no Window",
        "TakeOrderedAndProject" in vs_plan
        and "partial_count" in vs_plan
        and "Window" not in vs_plan
        and "BatchEvalPython" not in vs_plan,
    )

    failed = [c for c in checks if not c[1]]
    print(f"\n{len(checks) - len(failed)}/{len(checks)} plan properties hold")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
