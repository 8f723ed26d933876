"""Offline parser for an uncompressed, non-rolling Spark event log.

The traced run labels every timed job with ``setJobDescription``; the
description travels on each ``SparkListenerStageSubmitted``, so stages
are grouped by it. Stages are classed by what their tasks did:

- ``kernel``: sent data to Python workers and read a shuffle (the salted
  ``mapInArrow`` extraction stage);
- ``python``: sent data to Python workers without reading a shuffle
  (the giant-document spill pass, which runs in the scan stage);
- ``write``: wrote output bytes;
- ``agg``: any other stage that read or wrote a shuffle (aggregations,
  the resume anti-join, counts);
- ``other``: the rest.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"


@dataclass
class Task:
    launch_ms: int
    run_ms: int
    gc_ms: int
    shuffle_read_b: int
    shuffle_write_b: int
    output_b: int
    acc: dict[str, float]


@dataclass
class Stage:
    id: int
    label: str | None = None
    submit_ms: int | None = None
    complete_ms: int | None = None
    tasks: list[Task] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        if self.submit_ms is None or self.complete_ms is None:
            return 0.0
        return (self.complete_ms - self.submit_ms) / 1000.0

    def total(self, name: str) -> float:
        return sum(t.acc.get(name, 0.0) for t in self.tasks)

    @property
    def kind(self) -> str:
        python = any(PY_SENT in t.acc for t in self.tasks)
        shuffle_in = sum(t.shuffle_read_b for t in self.tasks)
        if python:
            return "kernel" if shuffle_in else "python"
        if any(t.output_b for t in self.tasks):
            return "write"
        if shuffle_in or any(t.shuffle_write_b for t in self.tasks):
            return "agg"
        return "other"


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse(lines) -> dict[int, Stage]:
    """Stage id -> Stage, from the event log's JSON lines."""
    stages: dict[int, Stage] = {}
    for line in lines:
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.label = (e.get("Properties") or {}).get("spark.job.description")
            st.submit_ms = info.get("Submission Time")
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit_ms = info.get("Submission Time", st.submit_ms)
            st.complete_ms = info.get("Completion Time")
        elif ev == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            om = tm.get("Output Metrics") or {}
            acc = {a["Name"]: _num(a.get("Update"))
                   for a in ti.get("Accumulables", []) if "Name" in a}
            stages.setdefault(e["Stage ID"], Stage(e["Stage ID"])).tasks.append(
                Task(launch_ms=ti["Launch Time"],
                     run_ms=tm.get("Executor Run Time", 0),
                     gc_ms=tm.get("JVM GC Time", 0),
                     shuffle_read_b=sr.get("Remote Bytes Read", 0)
                     + sr.get("Local Bytes Read", 0),
                     shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
                     output_b=om.get("Bytes Written", 0),
                     acc=acc))
    return stages


def read(path: str) -> dict[int, Stage]:
    with open(path) as f:
        return parse(f)


def job_metrics(stages: list[Stage], cores: int) -> dict[str, float]:
    """Per-layer figures for the stages of one labelled job."""
    by_kind: dict[str, list[Stage]] = {}
    for st in stages:
        by_kind.setdefault(st.kind, []).append(st)
    kernel = by_kind.get("kernel", [])
    ktasks = sorted(t.run_ms / 1000.0 for st in kernel for t in st.tasks)
    kernel_wall = sum(st.wall_s for st in kernel)
    tasks = [t for st in stages for t in st.tasks]
    return {
        "kernel_stage_s": kernel_wall,
        "write_stage_s": sum(st.wall_s for st in by_kind.get("write", [])),
        "agg_stage_s": sum(st.wall_s for st in by_kind.get("agg", [])),
        "python_run_s": sum(st.total(PY_RUN) for st in stages) / 1000.0,
        "python_start_s": sum(st.total(PY_START) for st in stages) / 1000.0,
        "arrow_in_mb": sum(st.total(PY_SENT) for st in stages) / 2**20,
        "arrow_out_mb": sum(st.total(PY_BACK) for st in stages) / 2**20,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "salt_shuffle_mb": sum(t.shuffle_read_b for st in kernel
                               for t in st.tasks) / 2**20,
        "task_p50_s": statistics.median(ktasks) if ktasks else 0.0,
        "task_max_s": ktasks[-1] if ktasks else 0.0,
        "slot_busy_frac": (sum(ktasks) / (kernel_wall * cores)
                           if kernel_wall else 0.0),
        "first_launch_ms": min((t.launch_ms for t in tasks), default=0),
    }


def labelled_metrics(stages: dict[int, Stage], labels: list[str],
                     cores: int) -> list[dict[str, float]]:
    """``job_metrics`` for each label, in order."""
    return [job_metrics([s for s in stages.values() if s.label == lab], cores)
            for lab in labels]
