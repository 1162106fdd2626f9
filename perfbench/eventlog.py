"""Spark event-log reader for the traced run.

Spark 4.1 writes a rolling log, ``eventlog_v2_<app>/events_<n>_<app>.zstd``,
one JSON event per line. There is no ``zstandard`` module in this image, so
compressed parts are decoded with ``pyarrow.CompressedInputStream``.

Jobs are attributed by their job group (``spark.jobGroup.id``), which the
benchmark sets around every timed call; stages and tasks follow their job.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

import pyarrow as pa

#: Python-boundary SQL accumulators, by their metric names.
PYTHON_ACCUMS = {
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
}
_CODECS = {".zstd": "zstd", ".lz4": "lz4", ".gz": "gzip"}


def _part_index(path: str) -> int:
    m = re.match(r"events_(\d+)_", os.path.basename(path))
    return int(m.group(1)) if m else 0


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``, in order."""
    parts = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: (os.path.dirname(p), _part_index(p)),
    )
    events: list[dict] = []
    for path in parts:
        codec = _CODECS.get(os.path.splitext(path)[1])
        with pa.OSFile(path) as raw:
            stream = pa.CompressedInputStream(raw, codec) if codec else raw
            data = stream.read()
        events.extend(json.loads(line) for line in data.decode().splitlines() if line)
    return events


@dataclass
class GroupStats:
    """What one job group cost, summed over its jobs, stages and tasks."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    python: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    #: stage id -> task durations (ms)
    stage_tasks: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))

    @classmethod
    def merge(cls, parts: list[GroupStats]) -> GroupStats:
        """The totals of several groups."""
        out = cls()
        for s in parts:
            for attr in ("jobs", "stages", "tasks", "task_run_ms", "gc_ms",
                         "shuffle_write_bytes", "spill_bytes", "records_read"):
                setattr(out, attr, getattr(out, attr) + getattr(s, attr))
            for k, v in s.python.items():
                out.python[k] += v
            for sid, ts in s.stage_tasks.items():
                out.stage_tasks[sid].extend(ts)
        return out

    def skew(self) -> float:
        """max ÷ median task time of the stage with the most task time."""
        if not self.stage_tasks:
            return 0.0
        heaviest = max(self.stage_tasks.values(), key=sum)
        med = statistics.median(heaviest)
        return max(heaviest) / med if med > 0 else 1.0


def _num(v) -> int:
    return int(v) if v not in (None, "") else 0


def group_stats(events: list[dict]) -> dict[str, GroupStats]:
    """Per-job-group totals. Jobs without a group are filed under ``""``.
    Stage ids restart in every application, so an application start
    forgets the previous application's stages."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    submitted: set[int] = set()
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            stage_group, submitted = {}, set()
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid not in submitted:
                submitted.add(sid)
                out[stage_group.get(sid, "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = out[stage_group.get(ev["Stage ID"], "")]
            info = ev["Task Info"]
            g.tasks += 1
            g.stage_tasks[ev["Stage ID"]].append(
                _num(info.get("Finish Time")) - _num(info.get("Launch Time"))
            )
            tm = ev.get("Task Metrics") or {}
            g.task_run_ms += _num(tm.get("Executor Run Time"))
            g.gc_ms += _num(tm.get("JVM GC Time"))
            g.shuffle_write_bytes += _num(
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")
            )
            g.spill_bytes += _num(tm.get("Memory Bytes Spilled")) + _num(
                tm.get("Disk Bytes Spilled")
            )
            g.records_read += _num((tm.get("Input Metrics") or {}).get("Records Read"))
            for acc in info.get("Accumulables", []):
                key = PYTHON_ACCUMS.get(acc.get("Name"))
                if key:
                    g.python[key] += _num(acc.get("Update"))
    return dict(out)
