"""Spark event-log reader for the traced benchmark run.

Reads the JSON-lines event log Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``. Spark
4.x writes a rolling log by default: a directory ``eventlog_v2_<app-id>``
holding ``events_<n>_<app-id>`` files that are read in ``n`` order. A plain
single-file log (rolling disabled) is read as is.

Each job is labelled by the ``spark.job.description`` local property that
was set on the submitting thread, and grouped into a phase by the prefix of
that label (``PHASES``). Task metrics are attributed to the job that first
listed the task's stage: a later job that reuses a finished shuffle stage
lists it too but runs none of its tasks.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field
from typing import Iterable, Iterator

# the benchmark labels its own report counts and layer probes with these
REPORT_LABEL = "perfbench: report"
PROBE_LABEL = "perfbench: probe"

# (description prefix, phase) — first match wins; no match is "unlabelled"
PHASES = (
    ("batch:", "batch"),
    ("finalize:", "finalize"),
    ("drift bin-edge prefetch", "drift_prefetch"),
    (REPORT_LABEL, "report"),
    (PROBE_LABEL, "probe"),
)
PHASE_NAMES = tuple(p for _, p in PHASES) + ("unlabelled",)


@dataclass
class Job:
    id: int
    submitted_ms: int
    description: str
    stage_ids: list[int]
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def phase(self) -> str:
        return phase_of(self.description)


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "Job | Totals") -> None:
        self.jobs += other.jobs if isinstance(other, Totals) else 1
        for f in ("stages", "tasks", "run_ms", "cpu_ns", "shuffle_write_bytes",
                  "spill_bytes"):
            setattr(self, f, getattr(self, f) + getattr(other, f))


@dataclass
class Window:
    """Wall-clock interval of one operation, in epoch milliseconds."""

    start_ms: int
    end_ms: int
    phases: dict[str, Totals] = field(default_factory=dict)

    def total(self) -> Totals:
        t = Totals()
        for p in self.phases.values():
            t.add(p)
        return t


def phase_of(description: str | None) -> str:
    for prefix, phase in PHASES:
        if description and description.startswith(prefix):
            return phase
    return "unlabelled"


def log_path(log_dir: str) -> str:
    """The one application log Spark wrote under ``spark.eventLog.dir``."""
    found = sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if not os.path.basename(p).startswith(".")
    )
    if len(found) != 1:
        raise ValueError(f"expected one event log in {log_dir}, found {found}")
    return found[0]


def _rolling_index(path: str) -> int:
    # events_<n>_<app-id>
    return int(os.path.basename(path).split("_")[1])


def read_events(path: str) -> Iterator[dict]:
    """Events from a rolling log directory or a single log file, in order."""
    if os.path.isdir(path):
        files = sorted(
            glob.glob(os.path.join(path, "events_*")), key=_rolling_index
        )
        if not files:
            raise ValueError(f"no events_* files in rolling log {path}")
    else:
        files = [path]
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def jobs_from_events(events: Iterable[dict]) -> dict[int, Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(
                id=e["Job ID"],
                submitted_ms=e["Submission Time"],
                description=props.get("spark.job.description") or "",
                stage_ids=list(e["Stage IDs"]),
            )
            jobs[job.id] = job
            for sid in job.stage_ids:
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            if sid not in stage_job:
                continue
            job = jobs[stage_job[sid]]
            # a failed or killed task may carry no metrics
            m = e.get("Task Metrics") or {}
            job.tasks += 1
            job.run_ms += m.get("Executor Run Time", 0)
            job.cpu_ns += m.get("Executor CPU Time", 0)
            job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return jobs


def attribute(jobs: dict[int, Job], windows: list[Window]) -> list[Window]:
    """Fill each window's per-phase totals with the jobs submitted inside it.

    Jobs submitted outside every window (warm-up, probes, set-up) are
    dropped. Windows must not overlap."""
    for w in windows:
        w.phases = {p: Totals() for p in PHASE_NAMES}
    for job in jobs.values():
        for w in windows:
            if w.start_ms <= job.submitted_ms <= w.end_ms:
                w.phases[job.phase].add(job)
                break
    return windows


def layer_metrics(windows: list[Window], run_s: list[float], cores: int) -> dict:
    """Per-operation medians of the Spark-side layer metrics.

    ``run_s`` holds the wall time of each window's operation, in the same
    order, for the driver-gap figure."""
    if not windows or len(windows) != len(run_s):
        raise ValueError("need one wall time per window")

    def med(values) -> float:
        return statistics.median(list(values))

    out = {}
    totals = [w.total() for w in windows]
    out["spark.jobs"] = med(t.jobs for t in totals)
    out["spark.stages"] = med(t.stages for t in totals)
    out["spark.tasks"] = med(t.tasks for t in totals)
    out["spark.exec_run_s"] = med(t.run_ms / 1e3 for t in totals)
    out["spark.exec_cpu_s"] = med(t.cpu_ns / 1e9 for t in totals)
    out["spark.wait_s"] = med((t.run_ms / 1e3 - t.cpu_ns / 1e9) for t in totals)
    out["spark.driver_gap_s"] = med(
        r - t.run_ms / 1e3 / cores for r, t in zip(run_s, totals)
    )
    out["spark.spill_mb"] = med(t.spill_bytes / 2**20 for t in totals)
    out["spark.shuffle_write_mb"] = med(t.shuffle_write_bytes / 2**20 for t in totals)
    out["spark.unlabelled.share"] = med(
        w.phases["unlabelled"].run_ms / t.run_ms if t.run_ms else 0.0
        for w, t in zip(windows, totals)
    )
    for phase in PHASE_NAMES:
        if phase == "probe":
            continue
        ps = [w.phases[phase] for w in windows]
        out[f"spark.{phase}.jobs"] = med(p.jobs for p in ps)
        out[f"spark.{phase}.tasks"] = med(p.tasks for p in ps)
        out[f"spark.{phase}.exec_run_s"] = med(p.run_ms / 1e3 for p in ps)
        out[f"spark.{phase}.exec_cpu_s"] = med(p.cpu_ns / 1e9 for p in ps)
    out["spark.finalize.shuffle_write_mb"] = med(
        w.phases["finalize"].shuffle_write_bytes / 2**20 for w in windows
    )
    return out
