"""Reader for Spark's event log, grouped by job group.

Spark 4.1 writes a rolling layout: one directory per application,
``eventlog_v2_<app>/events_<n>_<app>``, with ``n`` counting up as files
roll over. Each file holds one JSON event per line. The benchmark turns
the log on uncompressed (``spark.eventLog.compress=false``), so the
reader needs nothing beyond the standard library.

Per job group (``spark.jobGroup.id`` of the job, ``None`` for jobs
outside any group) :func:`read_groups` reports Spark's own task metrics:
task run time, JVM CPU time, their difference (time a task spent outside
the JVM's CPU accounting: Python workers at the Arrow boundary, I/O
waits), GC, shuffle bytes, spill, the worst per-stage task skew, and the
driver gap (time inside the group's jobs with no task running).
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field
from pathlib import Path

MB = 1024 * 1024


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    max_stage_skew: float = 0.0
    wall_s: float = 0.0
    busy_s: float = 0.0
    _intervals: list = field(default_factory=list, repr=False)

    @property
    def python_s(self) -> float:
        return max(self.task_run_s - self.jvm_cpu_s, 0.0)

    @property
    def driver_gap_s(self) -> float:
        return max(self.wall_s - self.busy_s, 0.0)


def event_files(log_dir: Path) -> list[Path]:
    """Event files of every application under ``log_dir``, in write order."""
    files = []
    for app in sorted(Path(log_dir).glob("eventlog_v2_*")):
        parts = [p for p in app.iterdir() if p.name.startswith("events_")]
        for p in parts:
            if not re.fullmatch(r"events_\d+_.+", p.name) or p.suffix in {".zstd", ".lz4", ".snappy", ".lzf"}:
                raise ValueError(f"unsupported event file {p} (compressed or unknown layout)")
        files += sorted(parts, key=lambda p: int(p.name.split("_")[1]))
    return files


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total / 1000.0


def read_groups(log_dir: Path) -> dict[str | None, GroupStats]:
    """Aggregate task metrics per job group; key ``"*"`` is the whole log."""
    job_group: dict[int, str | None] = {}
    job_time: dict[int, list[int]] = {}
    stage_group: dict[int, str | None] = {}
    stage_tasks: dict[int, list[int]] = {}
    stats: dict[str | None, GroupStats] = {"*": GroupStats()}

    def group(g):
        return stats.setdefault(g, GroupStats())

    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[jid] = g
                    job_time[jid] = [ev["Submission Time"], ev["Submission Time"]]
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                    group(g).jobs += 1
                    stats["*"].jobs += 1
                elif kind == "SparkListenerJobEnd":
                    job_time[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    dur = info["Finish Time"] - info["Launch Time"]
                    stage_tasks.setdefault(sid, []).append(dur)
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    for s in (group(stage_group.get(sid)), stats["*"]):
                        s.tasks += 1
                        s.task_run_s += m.get("Executor Run Time", 0) / 1000.0
                        s.jvm_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                        s.gc_s += m.get("JVM GC Time", 0) / 1000.0
                        s.shuffle_read_mb += (
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        ) / MB
                        s.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
                        s.spill_mb += (
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        ) / MB
                        s._intervals.append((info["Launch Time"], info["Finish Time"]))

    for sid, durs in stage_tasks.items():
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
        for s in (group(stage_group.get(sid)), stats["*"]):
            s.stages += 1
            s.max_stage_skew = max(s.max_stage_skew, skew)
    spans: dict[str | None, list[int]] = {}
    for jid, (lo, hi) in job_time.items():
        for g in (job_group[jid], "*"):
            cur = spans.setdefault(g, [lo, hi])
            cur[0], cur[1] = min(cur[0], lo), max(cur[1], hi)
    for g, (lo, hi) in spans.items():
        stats[g].wall_s = (hi - lo) / 1000.0
    for s in stats.values():
        s.busy_s = _union_s(s._intervals)
    return stats
