"""Spans around the calls into each layer, and the Spark event log read
back per job group.

Every span runs its jobs under its own Spark job group (``<op>/<name>``),
so the event log attributes each job, stage and task to the innermost
span open when it ran.  Spans are kept in memory and written out when the
run ends.  Per-stage run, CPU, GC and shuffle figures come from
``scripts/profile_scaling.parse_event_log``; this module adds the
stage -> job group map, job intervals and spill, which that parser does
not keep.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

from scripts.profile_scaling import parse_event_log

from . import stats

MB = 1 << 20


class Tracer:
    """``cpu_probe`` (optional) returns CPU seconds spent outside the JVM,
    i.e. by the Python workers; each span records its delta as ``py_cpu_s``."""

    def __init__(self, sc, cpu_probe=None):
        self.sc = sc
        self.cpu_probe = cpu_probe or (lambda: 0.0)
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str):
        parent = self._open[-1] if self._open else None
        rec = {
            "id": len(self.spans),
            "op": op,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"{op}/{name}",
        }
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(rec["group"], rec["group"])
        cpu0 = self.cpu_probe()
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py_cpu_s"] = self.cpu_probe() - cpu0
            self._open.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["group"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def find(self, op: str, name: str) -> dict | None:
        for s in self.spans:
            if s["op"] == op and s["name"] == name:
                return s
        return None

    def self_s(self, op: str, name: str) -> float:
        s = self.find(op, name)
        return stats.self_time(s, self.spans) if s else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _event_files(evdir: str) -> list[str]:
    """The newest application's event-log files (Spark 4 may roll the log
    into a directory of ``events_*`` files)."""
    entries = glob.glob(os.path.join(evdir, "*"))
    newest = max(entries, key=os.path.getmtime)
    if os.path.isdir(newest):
        return sorted(glob.glob(os.path.join(newest, "events_*")))
    return [newest]


def read_jobs(evdir: str) -> tuple[list[dict], dict[int, str], dict[int, int]]:
    """(jobs, stage -> job group, stage -> spilled bytes) from an event log.

    A stage belongs to the group of the first job that lists it."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    spill: dict[int, int] = {}
    for path in _event_files(evdir):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jobs[ev["Job ID"]] = {
                        "group": group,
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    spill[ev["Stage ID"]] = (
                        spill.get(ev["Stage ID"], 0)
                        + tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0)
                    )
    return list(jobs.values()), stage_group, spill


class EventLog:
    """Per-job-group totals over one application's event log."""

    def __init__(self, evdir: str):
        self.jobs, stage_group, spill = read_jobs(evdir)
        self.stages = []
        for row in parse_event_log(evdir):
            sid = row["stage_id"]
            self.stages.append(
                {**row, "group": stage_group.get(sid, ""), "spill_b": spill.get(sid, 0)}
            )

    def _stages_in(self, groups: set[str]) -> list[dict]:
        return [s for s in self.stages if s["group"] in groups]

    def totals(self, groups: set[str]) -> dict[str, float]:
        st = self._stages_in(groups)
        return {
            "jobs": sum(1 for j in self.jobs if j["group"] in groups),
            "stages": len(st),
            "tasks": sum(s["n_tasks"] for s in st),
            "shuffle_read_mb": sum(s["shuffle_read_b"] for s in st) / MB,
            "shuffle_write_mb": sum(s["shuffle_write_b"] for s in st) / MB,
            "spill_mb": sum(s["spill_b"] for s in st) / MB,
            "executor_run_s": sum(s["run_ms"] for s in st) / 1000.0,
            "executor_cpu_s": sum(s["cpu_ms"] for s in st) / 1000.0,
            "gc_s": sum(s["gc_ms"] for s in st) / 1000.0,
        }

    def job_intervals(self, groups: set[str]) -> list[tuple[float, float]]:
        return [(j["start"], j["end"]) for j in self.jobs if j["group"] in groups and j["end"]]
