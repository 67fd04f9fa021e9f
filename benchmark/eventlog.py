"""Per-call Spark counters from an uncompressed event log.

The benchmark tags every engine call with a job group ``<call>|<round>``
(``SparkContext.setJobGroup``). Every stage submitted under that group is
charged to the call; its tasks' metrics are summed. This generalizes the
shuffle-byte reader in ``tools/bench_exchange_bytes.py`` to every counter the
benchmark reports.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from statistics import median

COUNTERS = (
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "input_records",
    "output_bytes",
    "gc_s",
    "task_skew",
)


def _events(log_dir: str):
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if not name.startswith(("events", "app-", "local-")):
                continue
            with open(os.path.join(root, name)) as f:
                for line in f:
                    yield json.loads(line)


def _skew(durations_by_stage: dict) -> float:
    """Max/median task time per stage, averaged with each stage's total
    task time as weight, so long stages dominate and one-task stages
    (ratio 1) count for what they cost."""
    num = den = 0.0
    for ds in durations_by_stage.values():
        total = float(sum(ds))
        ratio = max(ds) / max(median(ds), 1.0)
        num += ratio * total
        den += total
    return num / den if den else 1.0


def counters_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """{job group: {counter: value}} over every stage run under the group."""
    stage_group: dict[tuple[int, int], str] = {}
    acc: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    durations: dict[str, dict[tuple[int, int], list[int]]] = defaultdict(
        lambda: defaultdict(list)
    )
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            info = ev["Stage Info"]
            if group:
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                stage_group[key] = group
                acc[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            group = stage_group.get(key)
            if group is None:
                continue
            a = acc[group]
            a["tasks"] += 1
            info = ev.get("Task Info", {})
            durations[group][key].append(
                int(info.get("Finish Time", 0)) - int(info.get("Launch Time", 0))
            )
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            a["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            inp = m.get("Input Metrics", {})
            a["input_bytes"] += inp.get("Bytes Read", 0)
            a["input_records"] += inp.get("Records Read", 0)
            a["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    for group, by_stage in durations.items():
        acc[group]["task_skew"] = _skew(by_stage)
    return dict(acc)
