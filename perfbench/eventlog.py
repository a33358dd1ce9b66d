"""Per-layer numbers from Spark's own event log.

The traced run labels every layer call with a job group (workloads.Spans)
and runs with an uncompressed event log. This module reads that log back and
folds its task and stage records into one row of numbers per job group:

- ``jobs``, ``stages`` (completed attempts), ``tasks``, ``failed_tasks``;
- ``shuffle_mb`` (shuffle bytes written) and ``spill_mb`` (disk spill);
- ``python_s`` ("time to run Python workers") and ``arrow_mb`` (bytes sent
  to plus bytes returned from Python workers), from the SQL metrics that
  Arrow-backed Python nodes report on each task;
- ``self_s``: the group's wall spans less the spans nested inside them;
- ``driver_s``: the part of ``self_s`` during which none of the group's
  stages was running, i.e. driver-side planning, collects and scheduling.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"
MB = 1e6


def read_events(log_dir: str) -> list[dict]:
    """Every event of the one application logged under ``log_dir``.

    Spark 4 writes a rolling log: a directory of ``events_<n>_<app>``
    files, read here in index order."""
    files = glob.glob(os.path.join(log_dir, "*", "events_*"))
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")

    def index(path):
        return int(re.match(r"events_(\d+)_", os.path.basename(path)).group(1))

    events = []
    for path in sorted(files, key=index):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def group_table(events: list[dict], spans) -> dict[str, dict[str, float]]:
    """{group: {metric: value}} for every group named in ``spans`` (a list
    of (group, start_epoch_s, end_epoch_s, seconds of nested spans))."""
    stage_group: dict[tuple, str] = {}
    stage_span: dict[tuple, tuple] = {}
    rows: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                rows[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            group = stage_group.get(key)
            if group:
                rows[group]["stages"] += 1
                stage_span[key] = (info["Submission Time"] / 1000.0,
                                   info["Completion Time"] / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
            if not group:
                continue
            row = rows[group]
            row["tasks"] += 1
            if e["Task End Reason"]["Reason"] != "Success":
                row["failed_tasks"] += 1
            tm = e.get("Task Metrics") or {}
            row["shuffle_mb"] += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0) / MB
            row["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
            for acc in e["Task Info"].get("Accumulables", []):
                name = acc.get("Name")
                if name == PY_RUN:
                    row["python_s"] += int(acc["Update"]) / 1000.0
                elif name in (PY_SENT, PY_BACK):
                    row["arrow_mb"] += int(acc["Update"]) / MB

    out = {}
    for group in {span[0] for span in spans}:
        mine = [(lo, hi, nested) for name, lo, hi, nested in spans
                if name == group]
        row = dict(rows.get(group, {}))
        own = sum(hi - lo - nested for lo, hi, nested in mine)
        # the group's stages run only while its label is set, which is
        # outside its nested spans
        busy = [iv for key, iv in stage_span.items()
                if stage_group[key] == group]
        covered = sum(_covered(busy, lo, hi) for lo, hi, _ in mine)
        row["self_s"] = own
        row["driver_s"] = max(own - covered, 0.0)
        out[group] = row
    return out
