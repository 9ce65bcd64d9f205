"""Spark event log → per-span engine counters.

The benchmark sets the job group to the span name around each timed
call (``spark.jobGroup.id``), so every job, stage and task in the log
can be attributed to the span that caused it.  Counters per span:

    jobs, stages, tasks, failed_tasks   counts
    task_s, cpu_s, gc_s                 summed executor run / cpu / GC time
    shuffle_write_mb, shuffle_read_mb   summed shuffle bytes (MiB)
    spill_mb                            memory + disk bytes spilled (MiB)

``busy_frac`` needs the span's wall time and the core count, so the
caller adds it (:func:`busy_frac`).
"""

from __future__ import annotations

import json
import os

COUNTERS = (
    "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "failed_tasks",
)
MIB = 1024.0 * 1024.0


def read_events(log_dir: str) -> list[dict]:
    """Every event of every log file under ``log_dir``; the session must
    write uncompressed, non-rolling logs."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def span_counters(events: list[dict], spans: list[str]) -> dict[str, dict[str, float]]:
    """Counters for each name in ``spans``; unattributed work is dropped."""
    out = {s: dict.fromkeys(COUNTERS, 0.0) for s in spans}
    stage_group: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in out:
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                out[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            c = out[group]
            c["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
                c["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["task_s"] += m.get("Executor Run Time", 0) / 1e3
            c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MIB
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MIB
            c["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / MIB
    return out


def busy_frac(task_s: float, wall_s: float, cores: int) -> float:
    """Share of the span's core-seconds that tasks were running."""
    return task_s / (wall_s * cores) if wall_s > 0 else 0.0
