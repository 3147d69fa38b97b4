"""Per-op numbers from a Spark event log.

Each op runs under its own job group, so every task is attributed to
the op that caused it through JobStart -> stage ids -> TaskEnd.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path


def per_group(log_dir: Path) -> dict[str, dict[str, float]]:
    """{job group: shuffle_write_mb, spill_mb, jvm_cpu_s, gc_s, skew_s}.

    ``skew_s`` sums, over the group's stages, the slowest task's duration
    minus the median task duration: the time a stage waits on stragglers.
    ``gc_s`` sums each task's reported JVM GC time.
    """
    stage_group: dict[int, str] = {}
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    durations: dict[int, list[float]] = defaultdict(list)
    for path in sorted(log_dir.iterdir()):
        with path.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev["Stage IDs"]:
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    a = acc[group]
                    a["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                    a["spill_mb"] += m["Disk Bytes Spilled"] / 2**20
                    a["jvm_cpu_s"] += m["Executor CPU Time"] / 1e9
                    a["gc_s"] += m["JVM GC Time"] / 1e3
                    info = ev["Task Info"]
                    durations[ev["Stage ID"]].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
    for sid, ds in durations.items():
        acc[stage_group[sid]]["skew_s"] += max(ds) - statistics.median(ds)
    return {g: {k: a.get(k, 0.0) for k in ("shuffle_write_mb", "spill_mb", "jvm_cpu_s", "gc_s", "skew_s")}
            for g, a in acc.items()}
