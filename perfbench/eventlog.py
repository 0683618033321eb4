"""Reader for Spark's JSON event log.

The session under trace runs with ``spark.eventLog.compress=false``: Spark
4.1 writes zstd-compressed rolling logs by default, which the Python
standard library cannot read. The log is then plain JSON lines in
``eventlog_v2_<app>/events_<n>_<app>``.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from stats import median

# SQL metric names carried in task-end accumulables.
PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"
PY_RUN = "time to run Python workers"

MB = 1024.0 * 1024.0


def log_files(log_dir) -> list[Path]:
    """Rolled event files under ``log_dir`` in write order."""
    return sorted(Path(log_dir).glob("eventlog_v2_*/events_*"),
                  key=lambda p: int(re.match(r"events_(\d+)_", p.name).group(1)))


def read_events(log_dir) -> list[dict]:
    out = []
    for f in log_files(log_dir):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
    return out


class AppLog:
    """Jobs, stages and tasks of one application, linked by id."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stage_scopes: dict[int, set[str]] = {}  # operator names per stage
        self.tasks: list[dict] = []
        stage_job: dict[int, int] = {}
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                self.jobs[jid] = {"id": jid,
                                  "description": props.get("spark.job.description") or ""}
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                scopes = set()
                for rdd in info.get("RDD Info", []):
                    try:
                        scopes.add(json.loads(rdd.get("Scope") or "{}").get("name", ""))
                    except ValueError:
                        pass
                self.stage_scopes[info["Stage ID"]] = scopes
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(_task_record(e))
        for t in self.tasks:
            t["job"] = stage_job.get(t["stage"])

    def job_ids(self, prefix: str) -> set[int]:
        """Jobs fired while a span whose path starts with ``prefix`` was open."""
        return {j["id"] for j in self.jobs.values()
                if j["description"] == prefix
                or j["description"].startswith(prefix + "/")}

    def summary(self, prefix: str) -> dict:
        """Totals over the jobs of one span path (children included)."""
        jobs = self.job_ids(prefix)
        tasks = [t for t in self.tasks if t["job"] in jobs]
        tot = {k: sum(t[k] for t in tasks)
               for k in ("shuffle_read_b", "shuffle_write_b", "spill_b",
                         "gc_ms", "py_in_b", "py_out_b", "py_run_ms")}
        return {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "shuffle_read_mb": tot["shuffle_read_b"] / MB,
            "shuffle_write_mb": tot["shuffle_write_b"] / MB,
            "spill_mb": tot["spill_b"] / MB,
            "gc_s": tot["gc_ms"] / 1e3,
            "py_in_mb": tot["py_in_b"] / MB,
            "py_out_mb": tot["py_out_b"] / MB,
            "py_run_s": tot["py_run_ms"] / 1e3,
        }

    def stage_skews(self, prefix: str, scope: str | None = None) -> list[tuple[int, float]]:
        """(stage id, max/median task run time) for the span's stages,
        optionally only stages whose operators include ``scope``."""
        jobs = self.job_ids(prefix)
        by_stage: dict[int, list[float]] = {}
        for t in self.tasks:
            if t["job"] in jobs:
                by_stage.setdefault(t["stage"], []).append(t["run_ms"])
        out = []
        for sid in sorted(by_stage):
            if scope is not None and scope not in self.stage_scopes.get(sid, ()):
                continue
            out.append((sid, task_skew(by_stage[sid])))
        return out

    def busiest_stage_skew(self, prefix: str, key: str = "shuffle_read_b") -> float:
        """Task skew of the span's stage that moved the most ``key`` bytes."""
        jobs = self.job_ids(prefix)
        moved: dict[int, float] = {}
        runs: dict[int, list[float]] = {}
        for t in self.tasks:
            if t["job"] in jobs:
                moved[t["stage"]] = moved.get(t["stage"], 0) + t[key]
                runs.setdefault(t["stage"], []).append(t["run_ms"])
        if not moved or max(moved.values()) <= 0:
            return 0.0
        sid = max(moved, key=lambda s: (moved[s], s))
        return task_skew(runs[sid])


def task_skew(run_ms: list[float]) -> float:
    """Slowest task over the median task; 1.0 for a perfectly even stage."""
    if not run_ms:
        return 0.0
    med = median(run_ms)
    return max(run_ms) / med if med > 0 else 1.0


def _task_record(e: dict) -> dict:
    m = e.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    acc = {}
    for a in (e.get("Task Info") or {}).get("Accumulables", []):
        name = a.get("Name")
        if name in (PY_IN, PY_OUT, PY_RUN):
            try:
                acc[name] = acc.get(name, 0) + int(a.get("Update") or 0)
            except (TypeError, ValueError):
                pass
    return {
        "stage": e.get("Stage ID"),
        "run_ms": float(m.get("Executor Run Time", 0)),
        "gc_ms": float(m.get("JVM GC Time", 0)),
        "shuffle_read_b": float(sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)),
        "shuffle_write_b": float(sw.get("Shuffle Bytes Written", 0)),
        "spill_b": float(m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)),
        "py_in_b": float(acc.get(PY_IN, 0)),
        "py_out_b": float(acc.get(PY_OUT, 0)),
        "py_run_ms": float(acc.get(PY_RUN, 0)),
    }
