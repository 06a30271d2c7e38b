"""Spark event-log reader for the traced run (stdlib ``json`` only).

Reads an uncompressed event log and sums task metrics per *owner*: the
value of a local property that the benchmark's span wrappers set on the
thread that submits each job (``spans.SPAN_PROPERTY``). Jobs without the
property belong to owner ``None``.
"""

from __future__ import annotations

import json
import statistics
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Usage:
    """Spark work owned by one span (or a set of spans, after ``add``)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    jvm_gc_ms: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    #: per executed stage, the duration of each of its tasks (ms)
    task_ms: dict[tuple[int, int], list[int]] = field(default_factory=dict)

    def add(self, other: "Usage") -> None:
        for name in (
            "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ns",
            "jvm_gc_ms", "input_bytes", "output_bytes", "shuffle_read_bytes",
            "shuffle_write_bytes",
        ):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.task_ms.update(other.task_ms)

    def task_skew_max(self) -> float:
        """Max over stages with 2+ tasks of max/median task time (1.0 when
        no stage has two tasks)."""
        skew = 1.0
        for times in self.task_ms.values():
            med = statistics.median(times)
            if len(times) > 1 and med > 0:
                skew = max(skew, max(times) / med)
        return skew


def read_lines(log_dir: Path) -> Iterator[str]:
    """The events of the one application logged under ``log_dir``, in
    order: a single file, or the ``events_<n>_<app>`` files of a rolling
    log (Spark's default since 4.0) in ``n`` order."""
    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith((".", "appstatus"))]
    rolling = [p for p in files if p.name.startswith("events_")]
    if rolling:
        files = sorted(rolling, key=lambda p: int(p.name.split("_")[1]))
    for path in files:
        with path.open() as fh:
            yield from fh


def parse(lines: Iterable[str], owner_property: str) -> dict[str | None, Usage]:
    """Owner → Usage for every job in the log. A stage belongs to the first
    job that lists it (a later job that reuses its shuffle output skips it)."""
    owner_of_job: dict[int, str | None] = {}
    job_of_stage: dict[int, int] = {}
    stage_done: set[tuple[int, int]] = set()
    usage: dict[str | None, Usage] = {}

    def owner_usage(stage_id: int) -> Usage | None:
        job = job_of_stage.get(stage_id)
        if job is None:
            return None
        return usage.setdefault(owner_of_job[job], Usage())

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            owner = (ev.get("Properties") or {}).get(owner_property)
            owner_of_job[job] = owner
            usage.setdefault(owner, Usage()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                job_of_stage.setdefault(sid, job)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            u = owner_usage(key[0])
            if u is not None and key not in stage_done:
                stage_done.add(key)
                u.stages += 1
        elif kind == "SparkListenerTaskEnd":
            u = owner_usage(ev["Stage ID"])
            if u is None:
                continue
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            u.tasks += 1
            u.executor_run_ms += m.get("Executor Run Time", 0)
            u.executor_cpu_ns += m.get("Executor CPU Time", 0)
            u.jvm_gc_ms += m.get("JVM GC Time", 0)
            u.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            u.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            u.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            u.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            u.task_ms.setdefault(key, []).append(duration)
    return usage
