"""Per-group totals from a Spark event log (stdlib only).

Each public call the benchmark makes runs under its own job group
(``SparkContext.setJobGroup``). This sums, per group, the tasks, executor
CPU and shuffle bytes of every stage those jobs ran.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict


def summarize(log_dir: str) -> dict:
    """Over every event log under ``log_dir`` (one file per application,
    or one directory of rolled ``events_*`` files per application):

    - ``groups``: {job group: {"jobs", "tasks", "cpu_s", "shuffle_mb"}};
    - ``job_times``: the submission time (epoch ms) of every job.
    """
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "shuffle_mb": 0.0}
    )
    job_times: list[int] = []
    paths = sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(log_dir)
        for f in files
        if not f.startswith((".", "appstatus"))
    )
    for path in paths:
        stage_group: dict[int, str] = {}
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    group = group or "untagged"
                    totals[group]["jobs"] += 1
                    job_times.append(ev["Submission Time"])
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    t = totals[stage_group.get(ev["Stage ID"], "untagged")]
                    t["tasks"] += 1
                    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics") or {}
                    t["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
    return {"groups": dict(totals), "job_times": job_times}
