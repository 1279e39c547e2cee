"""Spans around layer calls, and per-job-group numbers from the Spark event log.

A ``Tracer`` times each call the benchmark makes into a layer. When it is
enabled it also gives each call its own Spark job group, so the event log
(plain JSON, one event per line) can attribute jobs, tasks, shuffle and
spill to that call afterwards.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# Job groups whose execution numbers are reported, in report order.
GROUPS = (
    "runner.verdicts",
    "runner.commit",
    "runner.resume",
    "checks.unique_url",
    "checks.drift",
    "dedup.candidates",
    "dedup.verify",
    "dedup.cc",
    "blocked.pairs",
)
# Groups whose stages run Arrow/pandas UDFs: they also report the bytes
# Spark sent to the Python workers.
PYTHON_GROUPS = ("dedup.verify", "blocked.pairs")
GROUP_FIELDS = (
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_run_s", "s"),
    ("task_cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("task_skew", "ratio"),
    ("failed_tasks", "count"),
)
PYTHON_SENT = "data sent to Python workers"
MB = 1024 * 1024


class Tracer:
    """Records the wall time of each named span; with ``jobs=True`` the
    span also sets the Spark job group of the calling thread."""

    def __init__(self, spark, jobs: bool):
        self.sc = spark.sparkContext
        self.jobs = jobs
        self.spans: dict[str, list[float]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        if self.jobs:
            self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name].append(time.perf_counter() - t0)
            if self.jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def median(self, name: str) -> float:
        return statistics.median(self.spans[name]) if self.spans[name] else 0.0


def _group_of(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def read_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, task run and JVM CPU time, shuffle bytes
    written, spill, task skew of the longest stage, failed tasks and bytes
    sent to Python workers. Call after the SparkContext has stopped, so the
    log is complete."""
    files = [p for p in Path(log_dir).iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[str, int] = defaultdict(int)
    stage_group: dict[int, str] = {}
    stage_wall: dict[int, float] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = _group_of(ev.get("Properties"))
                if g:
                    jobs[g] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = _group_of(ev.get("Properties"))
                if g:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Completion Time" in info and "Submission Time" in info:
                    stage_wall[info["Stage ID"]] = (
                        info["Completion Time"] - info["Submission Time"]
                    ) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sent = sum(
                    int(a.get("Update", 0))
                    for a in info.get("Accumulables", ())
                    if a.get("Name") == PYTHON_SENT
                )
                failed = info.get("Failed", False) or info.get("Killed", False) or (
                    ev.get("Task End Reason", {}).get("Reason") != "Success"
                )
                tasks[ev["Stage ID"]].append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "sent": sent,
                    "failed": bool(failed),
                })

    out: dict[str, dict[str, float]] = {}
    for g in set(GROUPS) | set(jobs) | set(stage_group.values()):
        stages = [s for s, sg in stage_group.items() if sg == g]
        ts = [t for s in stages for t in tasks.get(s, ())]
        skew = 0.0
        if stages:
            longest = max(stages, key=lambda s: (stage_wall.get(s, 0.0), len(tasks.get(s, ()))))
            runs = [t["run_ms"] for t in tasks.get(longest, ()) if not t["failed"]]
            if runs:
                skew = max(runs) / max(statistics.median(runs), 1.0)
        out[g] = {
            "jobs": jobs.get(g, 0),
            "tasks": len(ts),
            "task_run_s": sum(t["run_ms"] for t in ts) / 1000.0,
            "task_cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
            "shuffle_write_mb": sum(t["shuffle_w"] for t in ts) / MB,
            "spill_mb": sum(t["spill"] for t in ts) / MB,
            "task_skew": skew,
            "failed_tasks": sum(t["failed"] for t in ts),
            "python_mb_sent": sum(t["sent"] for t in ts) / MB,
        }
    return out


def group_metrics(per_group: dict[str, dict[str, float]]) -> dict[str, tuple[float, str]]:
    """Flatten ``read_event_log`` output into ``<group>.<field>`` metrics."""
    out: dict[str, tuple[float, str]] = {}
    for g in GROUPS:
        for field, unit in GROUP_FIELDS:
            out[f"{g}.{field}"] = (per_group[g][field], unit)
        if g in PYTHON_GROUPS:
            out[f"{g}.python_mb_sent"] = (per_group[g]["python_mb_sent"], "MB")
    return out
