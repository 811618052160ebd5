"""Per-layer Spark numbers from Spark's own event log.

Every job, stage and task is attributed to the op phase whose wall-clock
window holds its start (job submission, stage submission, task launch),
whatever job group it ran under, so jobs a streaming builder starts on
its own threads count too. Storage events carry no timestamp; a block
update belongs to the window of the last timestamped event before it in
the log, which is the task or job that stored it.
"""

from __future__ import annotations

import bisect
import json
import os
from collections.abc import Iterable
from dataclasses import dataclass, fields

MB = float(1 << 20)


@dataclass
class SparkLayers:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_jobs: int = 0
    failed_tasks: int = 0
    task_overhead_s: float = 0.0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0
    pins: int = 0
    pin_mb: float = 0.0

    def add(self, other: "SparkLayers") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


class Windows:
    """Non-overlapping [start_ms, end_ms) windows, each with a key."""

    def __init__(self, windows: Iterable[tuple[str, float, float]]):
        ws = sorted(windows, key=lambda w: w[1])
        self.keys = [w[0] for w in ws]
        self.starts = [w[1] for w in ws]
        self.ends = [w[2] for w in ws]

    def find(self, t_ms: float) -> str | None:
        i = bisect.bisect_right(self.starts, t_ms) - 1
        if i >= 0 and t_ms < self.ends[i]:
            return self.keys[i]
        return None


def attribute(lines: Iterable[str], windows: Windows) -> dict[str, SparkLayers]:
    """Fold an event log (one JSON event per line) into per-window layers.
    Events outside every window are dropped."""
    out: dict[str, SparkLayers] = {}
    job_window: dict[int, str | None] = {}
    pinned: dict[str, set[int]] = {}
    current: str | None = None  # window of the last timestamped event

    def get(key: str) -> SparkLayers:
        return out.setdefault(key, SparkLayers())

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            current = windows.find(ev["Submission Time"])
            job_window[ev["Job ID"]] = current
            if current is not None:
                get(current).jobs += 1
        elif kind == "SparkListenerJobEnd":
            key = job_window.get(ev["Job ID"])
            if key is not None and ev["Job Result"]["Result"] != "JobSucceeded":
                get(key).failed_jobs += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = windows.find(info.get("Submission Time", -1))
            if key is not None:
                get(key).stages += 1
        elif kind == "SparkListenerTaskEnd":
            ti = ev["Task Info"]
            current = windows.find(ti["Launch Time"])
            if current is None:
                continue
            row = get(current)
            row.tasks += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                row.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            row.run_s += run_ms / 1e3
            row.task_overhead_s += max(0, ti["Finish Time"] - ti["Launch Time"] - run_ms) / 1e3
            row.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            row.gc_s += m.get("JVM GC Time", 0) / 1e3
            row.input_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            row.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            row.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            row.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
            row.output_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
        elif kind == "SparkListenerBlockUpdated" and current is not None:
            info = ev["Block Updated Info"]
            block = info["Block ID"]
            size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
            if not block.startswith("rdd_") or size <= 0:
                continue  # broadcast pieces, or a block being dropped
            row = get(current)
            rdds = pinned.setdefault(current, set())
            rdd_id = int(block.split("_")[1])
            if rdd_id not in rdds:
                rdds.add(rdd_id)
                row.pins += 1
            row.pin_mb += size / MB
    return out


def read_log(path: str) -> list[str]:
    """Lines of an event log: a plain file, or a Spark 4 ``eventlog_v2_*``
    directory of ``events_<n>_<app>`` parts read in part order."""
    if not os.path.isdir(path):
        with open(path) as f:
            return f.readlines()
    parts = [p for p in os.listdir(path) if p.startswith("events_")]
    lines: list[str] = []
    for p in sorted(parts, key=lambda p: int(p.split("_")[1])):
        with open(os.path.join(path, p)) as f:
            lines.extend(f.readlines())
    return lines
