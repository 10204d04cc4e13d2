"""Roll Spark's event log up into per-span job and task counts and times.

Jobs belong to the span during which they were submitted.  Attribution is
by time, not by job group: work that a library runs on its own threads does
not carry the caller's job group, but it is still submitted inside the
caller's span.  Spans are ``(start, end)`` pairs in epoch seconds, taken
around calls made one at a time, so no job falls in two spans.
"""

from __future__ import annotations

import json
import re
import statistics
from pathlib import Path

_ROLLING = re.compile(r"events_(\d+)_")


def _lines(files):
    for p in files:
        with p.open(encoding="utf-8") as f:
            yield from f


class EventLog:
    def __init__(self, jobs: dict, tasks: list):
        self.jobs = jobs  # job id -> {"submit", "complete", "stages"} (ms)
        self.tasks = tasks  # {"stage", "launch", "finish", "result"} (ms, bytes)

    @classmethod
    def read(cls, path: Path) -> "EventLog":
        """Parse the event log of the one application logged under ``path``
        (a plain log file, or the ``events_<n>_*`` parts of a rolling log)."""
        files = sorted(
            (p for p in Path(path).rglob("*") if p.is_file() and not p.name.startswith((".", "appstatus"))),
            key=lambda p: (p.parent, int(m.group(1)) if (m := _ROLLING.match(p.name)) else 0),
        )
        if not files or len({p.parent for p in files}) != 1:
            raise RuntimeError(f"expected the event log of one application under {path}")
        jobs: dict = {}
        tasks: list = []
        for line in _lines(files):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"submit": ev["Submission Time"], "complete": None, "stages": set(ev["Stage IDs"])}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["complete"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "launch": info["Launch Time"],
                        "finish": info["Finish Time"],
                        "result": m.get("Result Size", 0),
                    }
                )
        return cls(jobs, tasks)

    def rollup(self, start: float, end: float, cores: int) -> dict:
        """Counts and times of the jobs submitted within ``[start, end]``."""
        lo, hi = start * 1000.0, end * 1000.0
        jobs = sorted(
            (j for j in self.jobs.values() if lo <= j["submit"] <= hi),
            key=lambda j: j["submit"],
        )
        stage_ids = set().union(*(j["stages"] for j in jobs)) if jobs else set()
        tasks = [t for t in self.tasks if t["stage"] in stage_ids]
        durations = [(t["finish"] - t["launch"]) / 1000.0 for t in tasks]
        wall = end - start
        busy = sum(durations)
        # driver time: the part of the span with no job of the span running
        covered = 0.0
        cur_lo = cur_hi = None
        for j in jobs:
            a = j["submit"] / 1000.0
            b = min((j["complete"] or hi) / 1000.0, end)
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "task_busy_s": busy,
            "slot_util": busy / (wall * cores) if wall > 0 else 0.0,
            "task_skew": max(durations) / statistics.median(durations) if durations and statistics.median(durations) > 0 else 1.0,
            "driver_s": max(0.0, wall - covered),
            "result_kb": sum(t["result"] for t in tasks) / 1024.0,
            "job_walls": [((j["complete"] or hi) - j["submit"]) / 1000.0 for j in jobs],
        }
