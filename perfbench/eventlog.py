"""Spark event-log reader: jobs, stages, task time and bytes, attributed
to package modules and to benchmark spans.

Two attributions per job:

- by ``callSite.short``: PySpark records the innermost non-pyspark
  frame there (``collect at .../pipeline.py:745``), which names the
  package module that launched the job. Jobs Spark runs on helper
  threads (AQE stages, broadcasts) lack the property; their first
  stage's name carries the same call site when it is known. Jobs
  launched from a ``foreachBatch`` callback carry py4j's frame and land
  in ``other``;
- by span: the ``perfbench.span`` local property the tracer sets around
  every wrapped call, which also covers the streaming callbacks.

The log must be uncompressed (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

PACKAGE = "data_pipeline_challenge_spark"
#: Module groups jobs are attributed to by call site.
GROUPS = ("api", "pipeline", "sources", "operators", "streaming", "batchstore", "plans", "other")

_MB = 1024.0 * 1024.0


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int = 0
    callsite: str = ""
    span: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageStats:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    output: int = 0


def callsite_group(callsite: str) -> str:
    """``'collect at /x/data_pipeline_challenge_spark/sources/ledger.py:503'``
    → ``'sources'``; frames outside the package → ``'other'``."""
    m = re.search(rf"{PACKAGE}/([A-Za-z0-9_/]+)\.py", callsite)
    if not m:
        return "other"
    head = m.group(1).split("/")[0]
    return head if head in GROUPS else "other"


class EventLog:
    def __init__(self, jobs: dict[int, Job], stages: dict[int, StageStats]):
        self.jobs = jobs
        self.stages = stages
        self._owner: dict[int, int] | None = None

    @classmethod
    def read(cls, path: Path) -> "EventLog":
        """Parse one (non-rolling) event-log file."""
        with open(path, encoding="utf-8") as fh:
            return cls.parse(fh)

    @classmethod
    def parse(cls, lines) -> "EventLog":
        jobs: dict[int, Job] = {}
        stages: dict[int, StageStats] = {}
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get("perfbench.span")
                first = (ev.get("Stage Infos") or [{}])[0]
                job = Job(
                    ev["Job ID"],
                    ev.get("Submission Time", 0),
                    callsite=props.get("callSite.short") or first.get("Stage Name", ""),
                    span=int(span) if span not in (None, "") else None,
                    stage_ids=list(ev.get("Stage IDs", [])),
                )
                jobs[job.id] = job
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], StageStats())
                st.tasks += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    st.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                st.run_ms += m.get("Executor Run Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.spill += m.get("Disk Bytes Spilled", 0)
                st.output += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        return cls(jobs, stages)

    # ------------------------------------------------------------ queries

    def jobs_between(self, t0: float, t1: float) -> list[Job]:
        """Jobs submitted inside [t0, t1] (epoch seconds)."""
        lo, hi = t0 * 1000.0, t1 * 1000.0
        return [j for j in self.jobs.values() if lo <= j.submit_ms <= hi]

    def ran_stages(self, jobs: list[Job]) -> list[StageStats]:
        """Stages run by ``jobs``, each counted once. A stage belongs to
        the first job that lists it: later jobs that reuse its shuffle
        (AQE runs each shuffle map stage in a job of its own, then lists
        it again, skipped, in the result job) list it without running
        it. Stages that ran no task are left out."""
        ids = {j.id for j in jobs}
        return [self.stages[s] for s, owner in sorted(self._stage_owner().items())
                if owner in ids and s in self.stages]

    def _stage_owner(self) -> dict[int, int]:
        if self._owner is None:
            self._owner = {}
            for j in sorted(self.jobs.values(), key=lambda j: j.id):
                for s in j.stage_ids:
                    self._owner.setdefault(s, j.id)
        return self._owner

    def summary(self, jobs: list[Job], cores: int, t0: float, t1: float) -> dict[str, float]:
        """Engine totals over ``jobs`` inside the window [t0, t1]."""
        st = self.ran_stages(jobs)
        run_s = sum(s.run_ms for s in st) / 1000.0
        wall = max(t1 - t0, 1e-9)
        return {
            "jobs": len(jobs),
            "stages": len(st),
            "tasks": sum(s.tasks for s in st),
            "failed_tasks": sum(s.failed_tasks for s in st),
            "executor_run_s": run_s,
            "shuffle_write_mb": sum(s.shuffle_write for s in st) / _MB,
            "shuffle_read_mb": sum(s.shuffle_read for s in st) / _MB,
            "spill_mb": sum(s.spill for s in st) / _MB,
            "output_mb": sum(s.output for s in st) / _MB,
            "busy_core_share": run_s / (cores * wall),
            "driver_gap_s": wall - busy_wall(jobs, t0, t1),
        }

    def by_group(self, jobs: list[Job]) -> dict[str, int]:
        counts = {g: 0 for g in GROUPS}
        for j in jobs:
            counts[callsite_group(j.callsite)] += 1
        return counts

    def by_span(self, jobs: list[Job], parent_of: dict[int, int | None]) -> dict[int, list[Job]]:
        """Jobs per span, inclusive: a job counts for its span and every
        ancestor span."""
        out: dict[int, list[Job]] = {}
        for j in jobs:
            sid = j.span
            seen = set()
            while sid is not None and sid not in seen:
                seen.add(sid)
                out.setdefault(sid, []).append(j)
                sid = parent_of.get(sid)
        return out


def busy_wall(jobs: list[Job], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] during which at least one job was running."""
    iv = sorted(
        (max(j.submit_ms / 1000.0, t0), min((j.end_ms or j.submit_ms) / 1000.0, t1))
        for j in jobs
    )
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in iv:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def find_log(event_log_dir: Path) -> Path:
    """The application's finished log file."""
    entries = [p for p in Path(event_log_dir).iterdir() if not p.name.endswith(".inprogress")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one finished event log in {event_log_dir}, found {entries}")
    return entries[0]
