"""Benchmark entry point.

Run from the root of a checkout::

    python3 benchmark/run.py --workload ingest_serve --seed 1 --seconds 20 --trace 0

It starts ``worker.py`` in a session of its own with the engine on
``PYTHONPATH`` (the Python UDF workers import it) and every scratch, local
and temp directory under ``.bench_tmp/`` in the checkout, waits until every
process of that session has ended, removes the scratch directory and prints
one JSON result line: the ``end_to_end`` metrics of ``BENCHMARK.json`` with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``. A traced run
alternates traced and untraced rounds, so it can report the tracing
overhead (traced ``wall_s`` / untraced ``wall_s``).

Exits non-zero without a result line when the engine package is missing,
the worker fails, or the run does not finish in time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest_serve", "rank_kernels", "archive_codec")
TIME_LIMIT_S = 170
SESSION_EXIT_WAIT_S = 10


class BenchError(Exception):
    pass


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``. The worker starts a
    session of its own; everything it spawns stays in it, including the
    PySpark daemon, which moves to a process group of its own."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _stop_session(sid: int) -> None:
    """SIGKILL what is left of the worker's session and wait until it is
    gone."""
    deadline = time.time() + SESSION_EXIT_WAIT_S
    while pids := _session_pids(sid):
        if time.time() > deadline:
            raise BenchError(f"processes {pids} of session {sid} still alive")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _run_worker(args, root: str, scratch: str, trace: bool, deadline: float) -> dict:
    for sub in ("tmp", "local", "warehouse", "derby"):
        os.makedirs(os.path.join(scratch, sub))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=os.path.join(scratch, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        args.workload,
        str(args.seed),
        str(args.seconds),
        "1" if trace else "0",
        scratch,
        repr(time.time()),
    ]
    # the worker's output, Spark's included, goes to stderr: standard
    # output carries only the result line
    proc = subprocess.Popen(
        cmd, cwd=scratch, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise BenchError("worker timed out") from None
    finally:
        _stop_session(proc.pid)
    result = os.path.join(scratch, "result.json")
    if proc.returncode != 0 or not os.path.exists(result):
        raise BenchError(f"worker exited with {proc.returncode}")
    with open(result) as f:
        return json.load(f)


def _layer_value(name: str, items: list[dict]) -> float:
    """Median of ``counter`` over the spans and records of ``call`` (or of
    any call in layer ``call``) for a metric named ``call.counter``; 0 when
    the workload never makes the call."""
    call, _, counter = name.rpartition(".")
    vals = [
        it[counter]
        for it in items
        if (it["name"] == call or it["name"].startswith(call + ".")) and counter in it
    ]
    return float(median(vals)) if vals else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    root = os.getcwd()
    deadline = time.time() + TIME_LIMIT_S
    if not os.path.isfile(os.path.join(root, "webgraph_ans_rs_spark", "__init__.py")):
        print("engine package webgraph_ans_rs_spark not found", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    scratch = os.path.join(root, ".bench_tmp", f"{args.workload}-{os.getpid()}")
    try:
        run = _run_worker(args, root, scratch, bool(args.trace), deadline)
    except BenchError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass

    if args.trace:
        items = run["spans"] + run["records"]
        items.append({"name": "round", "wall_s": run["wall_s"]})
        items.append({"name": "trace", "overhead": run["traced_wall_s"] / run["wall_s"]})
        metrics = {
            m["name"]: {"value": _layer_value(m["name"], items), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(run[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    print(
        json.dumps(
            {
                "correct": run["failed"] == 0,
                "attempted": run["attempted"],
                "failed": run["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
