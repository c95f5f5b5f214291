"""Spans around calls into the engine, and Spark counters folded onto them.

A span is one call the benchmark makes into a layer: a build function, a
registry query, a parquet write, a ``noop`` execution. Spans are kept in
memory. Each span sets the Spark job description to its id, so every job the
call submits can be attributed to it. After the session stops, the
uncompressed event log the traced run enables at launch is folded into
per-span counters: jobs, stages (run and skipped), tasks, task and GC
seconds, shuffle bytes written, spilled bytes and failed tasks. A job without
a description (one submitted from a helper thread) is attributed to the span
whose wall interval contains its submission time.

Durations are wall seconds net of CPU steal (``net_seconds``): on a shared
virtual host the hypervisor takes CPU time from runnable virtual CPUs, which
stretches wall time by an amount that has nothing to do with the program.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.stages_skipped",
    "spark.tasks",
    "spark.task_s",
    "spark.gc_s",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.failed_tasks",
)


def snapshot() -> tuple[float, int, int]:
    """Wall clock, and the CPU ticks /proc/stat has counted busy and stolen."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal; busy includes steal
    return time.time(), sum(t) - t[3] - t[4], t[7]


def net_seconds(a: tuple, b: tuple) -> float:
    """Wall seconds from snapshot a to b, less the share of the CPU time the
    busy CPUs wanted that the hypervisor gave to other guests."""
    wall, busy, stolen = b[0] - a[0], b[1] - a[1], b[2] - a[2]
    return wall * (1 - stolen / busy) if busy > 0 else wall


@dataclass
class Span:
    id: str
    name: str
    pass_no: int
    start: tuple
    end: tuple = (0.0, 0, 0)
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return net_seconds(self.start, self.end)


class Tracer:
    """Records spans; with ``spark_context`` set, tags the jobs they submit."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.spark_context = None

    @contextmanager
    def span(self, name: str, pass_no: int):
        s = Span(f"perfbench#{len(self.spans)}", name, pass_no, snapshot())
        if self.spark_context is not None:
            self.spark_context.setJobDescription(s.id)
        try:
            yield s
        finally:
            s.end = snapshot()
            if self.spark_context is not None:
                self.spark_context.setJobDescription(None)
            self.spans.append(s)


def fold_event_log(log_dir: str, spans: list[Span]) -> None:
    """Attribute the Spark counters in ``log_dir``'s event log to ``spans``."""
    by_id = {s.id: s for s in spans}
    ordered = sorted(spans, key=lambda s: s.start[0])
    for s in spans:
        s.counters = {c: 0 for c in COUNTERS}
    pending: dict[int, Span] = {}  # stage id -> span of the job waiting for it
    stage_span: dict[int, Span] = {}
    ran: set[int] = set()

    def span_at(ms: int) -> Span | None:
        t = ms / 1000.0
        for s in ordered:
            if s.start[0] <= t <= s.end[0]:
                return s
        return None

    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    s = by_id.get(desc) or span_at(ev["Submission Time"])
                    if s is None:
                        continue
                    s.counters["spark.jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        if st in ran:
                            # its output already exists: the job reuses it
                            s.counters["spark.stages_skipped"] += 1
                        else:
                            pending[st] = s
                elif kind == "SparkListenerStageSubmitted":
                    st = ev["Stage Info"]["Stage ID"]
                    s = pending.pop(st, None)
                    if st not in ran and s is not None:
                        s.counters["spark.stages"] += 1
                        stage_span[st] = s
                    ran.add(st)
                elif kind == "SparkListenerTaskEnd":
                    s = stage_span.get(ev["Stage ID"])
                    if s is None:
                        continue
                    c = s.counters
                    c["spark.tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        c["spark.failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    c["spark.task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    c["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    c["spark.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    c["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    for st, s in pending.items():
        s.counters["spark.stages_skipped"] += 1  # listed by a job, never run
