"""Interleaved two-parallelism scaling protocol.

Measured fact about this sandbox (BASELINE.md): identical Spark jobs vary
±50% across runs half an hour apart (host-level interference), so running
all of level N before all of level 4N confounds host drift with the
scaling signal. This protocol alternates fresh-JVM runs —
N, 4N, N, 4N, … — so both levels sample the same noise window, and takes
the MINIMUM per level across rounds (interference is one-sided: it only
slows runs; the minimum is the best estimator of uncontended runtime).

    efficiency = (min T_N / min T_4N) / (4N/N)

Each level runs in a fresh JVM (tools/scaling_worker.py). Writes
BENCH_SCALING.json: per-level minima, efficiency and per-round raw numbers.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROUNDS = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "3"))
# PIN=1: run each worker under `taskset -c 0..N-1`. A bare local[N] JVM is
# NOT an N-core node — its GC, shuffle-IO, netty, and compression thread
# pools size to the PHYSICAL machine (32 hw threads), which inflates the
# low-core level's throughput and so deflates measured efficiency. Real
# cluster executors are cgroup/cpuset-limited to their core count; the JVM
# honors the affinity mask (ParallelGCThreads=2 under taskset -c 0-1), so
# pinning is the faithful N-core-executor proxy.
PIN = os.environ.get("SPARK_GRAFT_SCALE_PIN", "0") == "1"


def run_worker(cpus: int, extract: bool) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_WORKER_REPEATS="1",
        SPARK_GRAFT_WORKER_EXTRACT="1" if extract else "0",
    )
    cmd = [sys.executable, os.path.join(REPO, "tools", "scaling_worker.py"), str(cpus)]
    if PIN:
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(
        cmd,
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        timeout=3600,
    )
    lines = [line for line in out.stdout.strip().splitlines() if line.startswith("{")]
    if not lines:
        raise RuntimeError(f"worker cpus={cpus} failed:\n{out.stderr[-3000:]}")
    return json.loads(lines[-1])


def main() -> None:
    low, high = (
        int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_PAIR", "2,8").split(",")
    )
    rounds = []
    for i in range(ROUNDS):
        extract = i == 0  # page-corpus generation is expensive; once is enough
        r_low = run_worker(low, extract)
        r_high = run_worker(high, extract)
        rounds.append({"low": r_low, "high": r_high})
        print(
            f"round {i}: loop {low}c={r_low['pagerank_loop_sec_median']}"
            f" {high}c={r_high['pagerank_loop_sec_median']}",
            flush=True,
        )
    factor = high / low
    lo_loops = [r["low"]["pagerank_loop_sec_median"] for r in rounds]
    hi_loops = [r["high"]["pagerank_loop_sec_median"] for r in rounds]
    t_low, t_high = min(lo_loops), min(hi_loops)
    edges = rounds[0]["high"]["pagerank_edges"]
    supersteps = rounds[0]["high"]["supersteps"]
    ext_low = rounds[0]["low"]["extract_sec_median"]
    ext_high = rounds[0]["high"]["extract_sec_median"]
    result = {
        "primary": {
            "pair": f"local[{low}] vs local[{high}]",
            "pagerank": {
                "edges": edges,
                "supersteps": supersteps,
                "loop_sec": {str(low): t_low, str(high): t_high},
                "loop_sec_all_rounds": {str(low): lo_loops, str(high): hi_loops},
                "edges_per_sec": {
                    str(low): round(supersteps * edges / t_low),
                    str(high): round(supersteps * edges / t_high),
                },
                "scaling_efficiency": round((t_low / t_high) / factor, 3),
            },
            "pipeline_extract": {
                "pages": rounds[0]["low"]["pages"],
                "sec": {str(low): ext_low, str(high): ext_high},
                "scaling_efficiency": round((ext_low / ext_high) / factor, 3),
            },
        },
        "protocol": (
            "interleaved fresh-JVM runs (N, 4N alternating) so both levels"
            " sample the same host-noise window; min across rounds per level"
            " (interference is one-sided); efficiency = (T_N / T_4N) / (4N/N);"
            " pagerank timing is the superstep loop only (setup excluded)"
            + (
                "; workers cpuset-PINNED via taskset to exactly N cores (GC/"
                "IO/compression threads included) — the faithful N-core-"
                "executor emulation; an unpinned local[N] JVM leaks the "
                "host's 32 hw threads into its auxiliary pools"
                if PIN
                else ""
            )
        ),
    }
    out_name = os.environ.get("SPARK_GRAFT_SCALE_OUT", "BENCH_SCALING.json")
    with open(os.path.join(REPO, out_name), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result, indent=2))


if __name__ == "__main__":
    main()
