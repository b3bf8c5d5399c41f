"""Per-job and per-task costs from a Spark event log.

Jobs carry the local properties they were submitted under: the job group
``op-<id>`` names the benchmark operation, the description
``<op>/<span>`` the innermost span that submitted them (``trace.py``).
Tasks are charged to the job that ran their stage.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    id: int
    group: str | None
    desc: str | None
    end_ms: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    task_overhead_ms: float = 0.0
    shuffle_bytes: int = 0
    result_bytes: int = 0

    @property
    def op(self) -> int | None:
        if self.group and self.group.startswith("op-"):
            return int(self.group[3:])
        return None

    @property
    def span(self) -> int | None:
        if self.desc and "/" in self.desc:
            try:
                return int(self.desc.split("/", 1)[1])
            except ValueError:
                return None
        return None


def read_jobs(log_dir: str) -> dict[int, Job]:
    """Every job of every event log file under ``log_dir`` (one
    application per benchmark run; rolling logs sit in a sub-directory)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks = []
    paths = sorted(os.path.join(dp, n) for dp, _, names in os.walk(log_dir)
                   for n in names if not n.startswith((".", "appstatus")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(int(ev["Job ID"]),
                              props.get("spark.jobGroup.id"),
                              props.get("spark.job.description"),
                              stages=[int(s) for s in ev.get("Stage IDs", [])])
                    jobs[job.id] = job
                    for s in job.stages:
                        stage_job.setdefault(s, job.id)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(int(ev["Job ID"]))
                    if job is not None:
                        job.end_ms = float(ev.get("Completion Time", 0))
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    for ev in tasks:
        job = jobs.get(stage_job.get(int(ev["Stage ID"]), -1))
        if job is None:
            continue
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        run = float(m.get("Executor Run Time", 0))
        dur = float(info.get("Finish Time", 0)) - float(
            info.get("Launch Time", 0))
        job.tasks += 1
        job.task_overhead_ms += max(0.0, dur - run)
        job.shuffle_bytes += int(
            (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0))
        job.result_bytes += int(m.get("Result Size", 0))
    return jobs
