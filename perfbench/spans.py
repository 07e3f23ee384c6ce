"""Layer spans timed from outside the engine, and the event-log fold that
splits each span's time into driver, JVM executor, Python worker and
shuffle costs.

A span wraps one call into a public function of the library (one layer).
It runs under its own Spark job group, so the jobs it submits carry the
span's name in the event log. Jobs a span causes on another thread (the
micro-batches of a streaming query, run under the query's own group) are
attributed by time: spans never overlap, because the benchmark is one
closed-loop client.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

PYTHON_STEPS = ("start", "initialize", "run")
# spill is left out: it stays zero at the benchmark's sizes
SPAN_FIELDS = ("jobs", "tasks", "driver_s", "executor_run_s", "python_s",
               "shuffle_bytes")


class Spans:
    """Records the wall time of every span call, per cycle."""

    def __init__(self, sc):
        self.sc = sc
        self.windows: list[tuple[str, float, float]] = []  # name, t0, t1 (epoch s)
        self.cycle_total: dict[str, float] = defaultdict(float)
        # during warm-up every call is recorded under this one span name
        self.alias: str | None = None

    def reset_cycle(self) -> None:
        self.cycle_total = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        name = self.alias or name
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.windows.append((name, t0, t1))
            self.cycle_total[name] += t1 - t0

    def covered_s(self) -> float:
        """Wall time of the spans of the current cycle."""
        return sum(self.cycle_total.values())


def _accum(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def fold_event_log(log_dir: Path, windows: list[tuple[str, float, float]],
                   span_names: set[str]) -> dict[str, dict[str, float]]:
    """Fold an uncompressed Spark event log into per-span totals.

    A job belongs to the span named by its job group, or else to the span
    whose window contains its submission time. Task metrics reach the span
    through their stage's job. ``driver_s`` is the span's wall time minus
    the part of it that the span's jobs cover.
    """
    stage_job: dict[int, int] = {}
    job_span: dict[int, str] = {}
    job_t: dict[int, list[float]] = {}
    out: dict[str, dict[str, float]] = {
        s: dict.fromkeys(SPAN_FIELDS, 0.0) for s in span_names}

    def span_at(t: float) -> str | None:
        for name, t0, t1 in windows:
            if t0 <= t <= t1:
                return name
        return None

    for path in sorted(Path(log_dir).iterdir()):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    t = ev["Submission Time"] / 1000.0
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    span = group if group in span_names else span_at(t)
                    if span is None:
                        continue
                    job_span[jid] = span
                    job_t[jid] = [t, t]
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                    out[span]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_t:
                        job_t[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    row = out[job_span[jid]]
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    row["tasks"] += 1
                    row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    row["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    # SQL metrics in milliseconds; a task whose accumulators
                    # went missing adds nothing
                    row["python_s"] += sum(_accum(info, f"time to {step} Python workers")
                                           for step in PYTHON_STEPS) / 1e3

    by_span: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for jid, (a, b) in job_t.items():
        by_span[job_span[jid]].append((a, b))
    for name, t0, t1 in windows:
        if name not in out:
            continue
        inside = [(max(a, t0), min(b, t1)) for a, b in by_span[name]
                  if b > t0 and a < t1]
        out[name]["driver_s"] += (t1 - t0) - _union_s(inside)
    return out
