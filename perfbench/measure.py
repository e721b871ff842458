"""Measurement helpers: timed sections, output fingerprints, the ``timings``
recorder, the Spark event log and process memory read from ``/proc``.

All of it runs from outside the program: it wraps calls into public
functions and reads what Spark itself records.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _hashable(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.MapType):
        return False
    if isinstance(dtype, T.ArrayType):
        return _hashable(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return all(_hashable(f.dataType) for f in dtype.fields)
    return True


def fingerprint(df: DataFrame, cols: list[str] | None = None) -> tuple[int, int]:
    """(row count, bit_xor of xxhash64 over the columns) in ONE aggregate.

    Every column is hashed, so the optimizer cannot prune any projection the
    way a bare ``count()`` lets it. Columns whose type xxhash64 rejects (maps,
    anything holding a map) are hashed through ``to_json``.
    """
    fields = [f for f in df.schema.fields if cols is None or f.name in cols]
    exprs = [
        F.col(f"`{f.name}`") if _hashable(f.dataType) else F.to_json(F.col(f"`{f.name}`"))
        for f in fields
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*exprs)).alias("h")
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


@dataclass
class Section:
    name: str
    start: float        # wall clock, for spans and event-log attribution
    end: float = 0.0
    s: float = 0.0      # seconds, from the monotonic clock


class Meter:
    """Wall and CPU seconds summed over the timed sections of one operation.

    ``cpu_seconds`` returns the CPU time used so far; it is read at both ends
    of every section, so the work an operation does between sections (output
    fingerprints, quality checks) is in neither figure.
    """

    def __init__(self, cpu_seconds) -> None:
        self._cpu = cpu_seconds
        self.wall = self.cpu = 0.0
        self.sections: list[Section] = []

    @contextlib.contextmanager
    def timed(self, name: str):
        sec = Section(name, time.time())
        c0, t0 = self._cpu(), time.perf_counter()
        try:
            yield sec
        finally:
            sec.s = time.perf_counter() - t0
            self.cpu += self._cpu() - c0
            sec.end = time.time()
            self.wall += sec.s
            self.sections.append(sec)


class StageClock(dict):
    """A ``timings`` recorder for ``resolve``: besides the rounded seconds
    resolve stores, it keeps the wall-clock instant each stage finished, so
    spans and event-log jobs can be attributed to the stage that ran them."""

    def __init__(self) -> None:
        super().__init__()
        self.start = time.time()
        self.marks: list[tuple[str, float]] = []

    def __setitem__(self, stage, seconds) -> None:
        self.marks.append((stage, time.time()))
        super().__setitem__(stage, seconds)

    def windows(self) -> list[tuple[str, float, float]]:
        out, prev = [], self.start
        for stage, t in self.marks:
            out.append((stage, prev, t))
            prev = t
        return out


class EventLog:
    """Job and task records of one application's Spark event log."""

    def __init__(self, log_dir: str, app_id: str) -> None:
        paths = glob.glob(os.path.join(log_dir, app_id + "*"))
        if not paths:
            raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
        self.jobs: dict[int, dict] = {}   # job id -> {group, submit_s, stages}
        self.tasks: list[dict] = []
        stage_job: dict[int, int] = {}
        with open(paths[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    self.jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000.0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks.append({
                        "job": stage_job.get(ev["Stage ID"]),
                        "stage": ev["Stage ID"],
                        "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                        "launch": info["Launch Time"] / 1000.0,
                        "finish": info["Finish Time"] / 1000.0,
                        "cpu": m.get("Executor CPU Time", 0) / 1e9,
                        "gc": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })

    def jobs_in(self, groups) -> set[int]:
        return {j for j, rec in self.jobs.items() if rec["group"] in groups}

    def jobs_between(self, jobs: set[int], t0: float, t1: float) -> set[int]:
        return {j for j in jobs if t0 <= self.jobs[j]["submit"] < t1}

    def totals(self, jobs: set[int]) -> dict[str, float]:
        """Task CPU, GC, shuffle-write and spill over the tasks of ``jobs``,
        and the skew of the longest stage (max / median task time)."""
        tasks = [t for t in self.tasks if t["job"] in jobs]
        by_stage: dict[int, list[dict]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t)
        skew = 0.0
        if by_stage:
            longest = max(
                by_stage.values(),
                key=lambda ts: max(t["finish"] for t in ts) - min(t["launch"] for t in ts),
            )
            durs = [t["dur"] for t in longest]
            med = statistics.median(durs)
            skew = max(durs) / med if med > 0 else 1.0
        return {
            "task_cpu_s": sum(t["cpu"] for t in tasks),
            "gc_s": sum(t["gc"] for t in tasks),
            "shuffle_write_bytes": float(sum(t["shuffle_write"] for t in tasks)),
            "spill_bytes": float(sum(t["spill"] for t in tasks)),
            "task_skew": skew,
        }


def _children(pid: int) -> list[int]:
    kids = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                kids.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def directory_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, name))
        for d, _, names in os.walk(root)
        for name in names
    )
