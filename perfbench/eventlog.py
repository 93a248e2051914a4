"""Reader for Spark's uncompressed JSON-lines event log.

The benchmark tags every public call it makes with a Spark job group
(``sc.setJobGroup``); this module folds the application's event log into
per-group totals.  Jobs are attributed by ``spark.jobGroup.id`` from the
job's properties, never by call site: adaptive-execution stage jobs often
carry no call site, but they inherit the submitting thread's group.

Only four event kinds are parsed (job start/end, stage completed, task
end); other lines are skipped by prefix before any JSON decoding, so the
large SQL plan events cost almost nothing.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field, fields

# stage scopes that run Python workers (the Python boundary)
PYTHON_SCOPES = frozenset(
    {"MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"}
)
CUT_SCOPE = "checkpoint"
WRITE_SCOPE = "WriteFiles"

_WANTED = tuple(
    f'{{"Event":"{name}"'
    for name in (
        "SparkListenerJobStart",
        "SparkListenerJobEnd",
        "SparkListenerStageCompleted",
        "SparkListenerTaskEnd",
    )
)


@dataclass
class GroupStats:
    """Totals over every job tagged with one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    records_written: int = 0
    bytes_written: int = 0
    python_task_s: float = 0.0
    python_stages: int = 0
    cut_jobs: int = 0
    cut_task_s: float = 0.0
    write_task_s: float = 0.0
    # [submit, complete] of every job, in seconds since the epoch
    spans: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: GroupStats, lo: float, hi: float) -> None:
        """Add ``other``'s totals; keep its job spans clipped to [lo, hi]."""
        for f in fields(self):
            if f.name != "spans":
                setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        self.spans.extend(clip_spans(other.spans, lo, hi))


def union_length(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clip_spans(spans: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi]


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The event log files of ``app_id`` (rolled v2 layout or one file)."""
    rolled = sorted(
        glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    single = os.path.join(log_dir, app_id)
    return rolled or ([single] if os.path.exists(single) else [])


def _scopes(stage_info: dict) -> set[str]:
    out = set()
    for rdd in stage_info.get("RDD Info", ()):
        scope = rdd.get("Scope")
        if scope:
            out.add(json.loads(scope).get("name", ""))
    return out


def read_groups(paths: list[str]) -> dict[str, GroupStats]:
    """Fold the event log at ``paths`` into ``{job group: GroupStats}``.

    Jobs without a group are reported under ``""``.
    """
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stage_jobs: dict[int, int] = {}
    stage_scopes: dict[int, set[str]] = {}
    tasks: list[dict] = []
    jobs_ended: list[tuple[int, float]] = []
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if not line.startswith(_WANTED):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_group[jid] = props.get("spark.jobGroup.id") or ""
                    job_submit[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev["Stage IDs"]:
                        stage_jobs.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs_ended.append((ev["Job ID"], ev["Completion Time"] / 1000.0))
                else:
                    info = ev["Stage Info"]
                    stage_scopes[info["Stage ID"]] = _scopes(info)

    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_scopes: dict[int, set[str]] = defaultdict(set)
    for sid, scopes in stage_scopes.items():
        jid = stage_jobs.get(sid)
        if jid is None:
            continue
        g = groups[job_group.get(jid, "")]
        g.stages += 1
        if scopes & PYTHON_SCOPES:
            g.python_stages += 1
        job_scopes[jid] |= scopes
    for jid, done in jobs_ended:
        g = groups[job_group.get(jid, "")]
        g.jobs += 1
        if CUT_SCOPE in job_scopes.get(jid, ()):
            g.cut_jobs += 1
        g.spans.append((job_submit.get(jid, done), done))
    for ev in tasks:
        sid = ev["Stage ID"]
        jid = stage_jobs.get(sid)
        g = groups[job_group.get(jid, "")] if jid is not None else groups[""]
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        g.tasks += 1
        if info.get("Failed") or info.get("Killed"):
            g.failed_tasks += 1
        run_s = m.get("Executor Run Time", 0) / 1000.0
        g.task_s += run_s
        g.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        g.gc_s += m.get("JVM GC Time", 0) / 1000.0
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        out = m.get("Output Metrics") or {}
        g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        g.records_written += out.get("Records Written", 0)
        g.bytes_written += out.get("Bytes Written", 0)
        scopes = stage_scopes.get(sid, set())
        if scopes & PYTHON_SCOPES:
            g.python_task_s += run_s
        if CUT_SCOPE in scopes:
            g.cut_task_s += run_s
        if WRITE_SCOPE in scopes:
            g.write_task_s += run_s
    return dict(groups)
