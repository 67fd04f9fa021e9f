"""One benchmark run of one workload in a fresh Spark driver.

Started by ``run.py`` (which sets the environment) as::

    python3 benchmark/worker.py WORKLOAD SEED SECONDS TRACE SCRATCH_DIR T0

``T0`` is the launcher's wall clock just before it started this process, so
``setup_s`` counts process start, imports and session start-up. The run's raw
figures go to ``SCRATCH_DIR/result.json``; ``run.py`` turns them into the
benchmark's result line.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time
import traceback
from contextlib import contextmanager
from statistics import median

import eventlog
from workloads import WORKLOADS

from webgraph_ans_rs_spark.session import get_spark

SETUP_REPEATS = 3
MIN_ROUNDS = 2
SHUFFLE_PARTITIONS_PER_CORE = 1
DRIVER_MEMORY = "3g"
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _session_cpu_s(sid: int) -> float:
    """CPU seconds used so far by every process of session ``sid``: this
    worker, the driver JVM, the PySpark daemon and its Python workers, with
    the time of children they have reaped. Time the hypervisor steals from
    the guest is not in it."""
    ticks = 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])  # u/s time, own + children
    return ticks / CLK_TCK


class Bench:
    """Spans around engine calls, output checks and per-round records."""

    def __init__(self, spark):
        self.spark = spark
        self.sid = os.getsid(0)
        self.round = 0
        self.spans: list[dict] = []
        self.records: list[dict] = []
        self.attempted = 0
        self.failed = 0

    @contextmanager
    def call(self, name: str, **attrs):
        """Time one engine call; its Spark jobs run under a job group
        unique to this span, so the event log can charge them to it."""
        sc = self.spark.sparkContext
        span = dict(attrs, name=name, round=self.round)
        span["group"] = f"{name}|{self.round}|{len(self.spans)}"
        sc.setJobGroup(span["group"], name)
        cpu = _session_cpu_s(self.sid)
        t = time.perf_counter()
        try:
            yield span
        finally:
            span["s"] = time.perf_counter() - t
            span["cpu_s"] = _session_cpu_s(self.sid) - cpu
            sc.setJobGroup("benchmark", "checks")
            self.spans.append(span)

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed in round {self.round}: {what}", file=sys.stderr)

    def record(self, layer: str, **values) -> None:
        self.records.append(dict(values, name=layer, round=self.round))


def _session(workload: str, scratch: str, trace: bool):
    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+UseParallelGC -Djava.io.tmpdir={scratch}/tmp"
            f" -Dderby.system.home={scratch}/derby"
        ),
        "spark.local.dir": f"{scratch}/local",
        "spark.sql.warehouse.dir": f"{scratch}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.codegen.cache.maxEntries": "4096",
    }
    if trace:
        os.makedirs(f"{scratch}/events", exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{scratch}/events",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        f"benchmark-{workload}",
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS_PER_CORE * cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus the Python driver's max RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _run_round(b: Bench, run_round, ctx) -> None:
    try:
        run_round(b, ctx)
    except Exception:  # one failed round is a failed operation, not a crash
        traceback.print_exc()
        b.attempted += 1
        b.failed += 1


class EventLogSwitch:
    """Attach and detach the session's event-log listener between rounds,
    so one process can time traced and untraced rounds side by side. It
    reaches the listener bus and the event logger through py4j; both are
    ``private[spark]`` members of ``SparkContext``."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self.bus = jsc.listenerBus()
        self.listener = jsc.eventLogger().get()
        self.on = True

    def set(self, on: bool) -> None:
        if on == self.on:
            return
        self.bus.waitUntilEmpty()
        if on:
            self.bus.addToEventLogQueue(self.listener)
        else:
            self.bus.removeListener(self.listener)
        self.on = on


def _per_round(spans: list[dict], rounds: int, key: str = "s") -> float:
    """One round's ``key`` (wall or CPU seconds) from per-call medians, so a
    stall in one call of one round does not move the whole figure."""
    by_call: dict[str, list[float]] = {}
    for s in spans:
        by_call.setdefault(s["name"], []).append(s[key])
    return sum(median(v) * len(v) / rounds for v in by_call.values())


def main() -> None:
    workload, seed, seconds, trace, scratch, t0 = sys.argv[1:7]
    seed, seconds, trace, t0 = int(seed), float(seconds), trace == "1", float(t0)
    prepare, run_round, warmup_rounds = WORKLOADS[workload]

    spark = _session(workload, scratch, trace)
    session_s = time.time() - t0
    prep_s, ctx = [], None
    for i in range(SETUP_REPEATS):
        d = f"{scratch}/inputs{i}"
        os.makedirs(d)
        t = time.perf_counter()
        ctx = prepare(spark, seed, d)
        prep_s.append(time.perf_counter() - t)
    b = Bench(spark)
    t = time.perf_counter()
    for _ in range(warmup_rounds):  # round 0 is not reported
        _run_round(b, run_round, ctx)
    warmup_s = time.perf_counter() - t

    # A traced run alternates traced and untraced rounds in the order
    # T U U T T U U T ..., so both kinds see the same warm-up state.
    switch = EventLogSwitch(spark) if trace else None
    least = 2 * MIN_ROUNDS if trace else MIN_ROUNDS
    traced_rounds = set()
    start = time.perf_counter()
    while b.round < least or time.perf_counter() - start < seconds:
        b.round += 1
        if switch:
            switch.set(b.round % 4 in (0, 1))
            if switch.on:
                traced_rounds.add(b.round)
        _run_round(b, run_round, ctx)
    peak_rss_mb = _peak_rss_mb(spark)

    spans = [s for s in b.spans if s["round"] > 0]
    plain = [s for s in spans if s["round"] not in traced_rounds]
    out = {
        "setup_s": session_s + median(prep_s) + warmup_s,
        "wall_s": _per_round(plain, b.round - len(traced_rounds)),
        "cpu_s": _per_round(plain, b.round - len(traced_rounds), "cpu_s"),
        "peak_rss_mb": peak_rss_mb,
        "attempted": b.attempted,
        "failed": b.failed,
        "spans": plain,
        "records": [r for r in b.records if r["round"] > 0],
    }
    if trace:
        spark.stop()  # closes the event log; untraced runs leave it to run.py
        counters = eventlog.counters_by_group(f"{scratch}/events")
        out["spans"] = [s for s in spans if s["round"] in traced_rounds]
        out["traced_wall_s"] = _per_round(out["spans"], len(traced_rounds))
        for s in out["spans"]:
            s.update(counters.get(s["group"], {}))
            if "edge_steps" in s:
                s["shuffle_write_bytes_per_edge_step"] = (
                    s["shuffle_write_bytes"] / s["edge_steps"]
                )
            if "probes" in s:
                s["rows_read_per_probe"] = s["input_records"] / s["probes"]
    with open(f"{scratch}/result.json", "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
