"""Spark event-log parser: turns a traced run into per-span task metrics.

The benchmark enables the event log from outside the program
(``spark.eventLog.enabled``, uncompressed JSON lines) and tags every span
with ``SparkContext.setJobGroup``.  This module reads the log back and sums,
per job group: jobs, tasks, task run/CPU/GC time, shuffle and spill bytes,
bytes written, the max/median task-time skew (DS2) and the job walls split
by what the job's SQL execution did (write / lineage / read).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class SpanStats:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    written_bytes: int = 0
    task_times: list = field(default_factory=list)
    # job wall seconds and task counts by job kind (write / lineage / read)
    kind_wall_s: dict = field(default_factory=lambda: defaultdict(float))
    kind_tasks: dict = field(default_factory=lambda: defaultdict(int))

    @property
    def skew(self) -> float:
        if not self.task_times:
            return 0.0
        med = statistics.median(self.task_times)
        return max(self.task_times) / med if med > 0 else 0.0

    def merge(self, other: "SpanStats") -> None:
        for k in ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_bytes",
                  "spill_bytes", "written_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.task_times += other.task_times
        for k, v in other.kind_wall_s.items():
            self.kind_wall_s[k] += v
        for k, v in other.kind_tasks.items():
            self.kind_tasks[k] += v


def _job_kind(plan: str) -> str:
    if "_lineage" in plan:
        return "lineage"
    if "InsertIntoHadoopFsRelationCommand" in plan:
        return "write"
    return "read"


def log_files(log_dir: str) -> list[str]:
    """Event-log files of every application in ``log_dir`` (plain files, or
    the ``eventlog_v2_*/events_*`` parts of a rolling log)."""
    out = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            # events_<index>_<app id>: replay in index order
            out += sorted(glob.glob(os.path.join(p, "events_*")),
                          key=lambda f: int(os.path.basename(f).split("_")[1]))
        else:
            out.append(p)
    return out


def parse(paths: list[str]) -> dict[str | None, SpanStats]:
    """Job group -> SpanStats (``None`` holds work no span claims)."""
    stage_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    job_group: dict[int, str | None] = {}
    job_exec: dict[int, str | None] = {}
    job_start: dict[int, int] = {}
    exec_plan: dict[str, str] = {}
    spans: dict[str | None, SpanStats] = defaultdict(SpanStats)
    job_tasks: dict[int, int] = defaultdict(int)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SQLExecutionStart"):
                    exec_plan[str(ev["executionId"])] = ev.get("physicalPlanDescription", "")
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    job_group[jid] = props.get("spark.jobGroup.id")
                    job_exec[jid] = props.get("spark.sql.execution.id")
                    job_start[jid] = ev.get("Submission Time", 0)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_group[sid] = props.get("spark.jobGroup.id")
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    s = spans[job_group.get(jid)]
                    s.jobs += 1
                    plan = exec_plan.get(str(job_exec.get(jid)), "")
                    jk = _job_kind(plan)
                    s.kind_wall_s[jk] += (ev.get("Completion Time", 0) - job_start.get(jid, 0)) / 1000
                    s.kind_tasks[jk] += job_tasks.get(jid, 0)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    s = spans[stage_group.get(sid)]
                    job_tasks[stage_job.get(sid, -1)] += 1
                    m = ev.get("Task Metrics") or {}
                    s.tasks += 1
                    run = m.get("Executor Run Time", 0) / 1000
                    s.run_s += run
                    s.task_times.append(run)
                    s.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    s.gc_s += m.get("JVM GC Time", 0) / 1000
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    s.shuffle_bytes += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                                        + sw.get("Shuffle Bytes Written", 0))
                    s.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    s.written_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return dict(spans)


def unattributed_share(spans: dict[str | None, SpanStats], known) -> float:
    """Share of task run time in jobs outside every span in ``known``."""
    total = sum(s.run_s for s in spans.values())
    claimed = sum(s.run_s for g, s in spans.items() if g is not None and g in known)
    return (total - claimed) / total if total > 0 else 0.0


def span_metrics(prefix: str, s: SpanStats | None) -> dict[str, float]:
    s = s or SpanStats()
    return {
        f"{prefix}.task_cpu_s": s.cpu_s,
        f"{prefix}.gc_s": s.gc_s,
        f"{prefix}.shuffle_mb": s.shuffle_bytes / MB,
        f"{prefix}.spill_mb": s.spill_bytes / MB,
        f"{prefix}.task_skew": s.skew,
    }
