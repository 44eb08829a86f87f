"""Read Spark's local event log and sum task metrics per job group.

Spark 4.1 writes a rolling, zstd-compressed log:
``<dir>/eventlog_v2_<app>/events_<n>_<app>.zstd``. ``pyarrow`` decompresses
it, so no extra package is needed. Every traced span runs under its own job
group, so summing task metrics by the group of the job that owns each stage
gives the stage-level numbers of each span.

Python-worker time comes from the SQL accumulators of the Arrow/pandas
operators. Their unit is read from the plan (``metricType`` ``timing`` is ms,
``nsTiming`` ns) rather than assumed. Only ``time to run Python workers`` is
reported: ``time to initialize Python workers`` also counts the time a worker
waits for its first input batch, so its per-task sums exceed the task's own
run time and cannot be read as Python work.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

import pyarrow as pa

PY_RUN = "time to run Python workers"
_UNIT_S = {"timing": 1e-3, "nsTiming": 1e-9}

# per-group sums; every value is a float in the unit its name says
FIELDS = ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "python_s", "shuffle_mb", "spill_mb")


def _log_files(event_dir: str) -> list[str]:
    files = glob.glob(os.path.join(event_dir, "eventlog_v2_*", "events_*"))

    def part(path: str) -> int:
        m = re.search(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    return sorted(files, key=part)


def read_events(event_dir: str) -> list[dict]:
    """All events of every application logged under ``event_dir``, in order."""
    events: list[dict] = []
    for path in _log_files(event_dir):
        if path.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(path), "zstd") as stream:
                raw = stream.read()
        else:
            with open(path, "rb") as f:
                raw = f.read()
        events.extend(json.loads(line) for line in raw.decode("utf-8").splitlines() if line)
    return events


def _sql_metric_units(events: list[dict]) -> dict[int, float]:
    """accumulator id -> seconds per unit, for the timing SQL metrics."""
    units: dict[int, float] = {}

    def walk(plan: dict) -> None:
        for m in plan.get("metrics", []):
            if m.get("metricType") in _UNIT_S:
                units[int(m["accumulatorId"])] = _UNIT_S[m["metricType"]]
        for child in plan.get("children", []):
            walk(child)

    for e in events:
        if "sparkPlanInfo" in e:
            walk(e["sparkPlanInfo"])
    return units


def job_groups(events: list[dict]) -> list[str | None]:
    """The job group of every job, in submission order (None = unlabelled)."""
    return [
        (e.get("Properties") or {}).get("spark.jobGroup.id")
        for e in events
        if e["Event"] == "SparkListenerJobStart"
    ]


def sum_by_group(events: list[dict]) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group.

    Raises ValueError if a Python-run accumulator has no known unit, or if a
    group's Python run time exceeds its tasks' run time (a unit error).
    """
    units = _sql_metric_units(events)
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or "unlabelled"
            out[group]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(int(sid), group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(int(e["Stage ID"]), "unlabelled")
            m = e.get("Task Metrics") or {}
            g = out[group]
            g["tasks"] += 1
            g["run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            g["shuffle_mb"] += (
                rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            ) / 2**20
            g["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 2**20
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") != PY_RUN:
                    continue
                unit = units.get(int(acc["ID"]))
                if unit is None:
                    raise ValueError(f"no unit in the plan for accumulator {acc['ID']}")
                g["python_s"] += float(acc.get("Update") or 0) * unit
    for group, g in out.items():
        # a task's Python work happens inside its run time; more Python than
        # run time means the unit was misread
        if g["python_s"] > 1.05 * g["run_s"] + 0.01:
            raise ValueError(
                f"{group}: python_s {g['python_s']:.3f} > run_s {g['run_s']:.3f}"
            )
    return dict(out)
