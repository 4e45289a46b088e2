"""Spans recorded around layer calls, and the Spark event log reader.

Spans live in memory and are written once, when the run ends. Each
span has a name, start, end, parent span and run id (the measured
pass it belongs to). A span's self time is its duration minus the
part of it that its child spans cover.

The event log gives Spark's own counters. Every job a timed call runs
carries a job description ``<layer>|<call id>|<phase>`` set by the
benchmark, so tasks can be charged to the layer that owns the call.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    costs one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = "setup"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def wrap_package_function(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper in every
        loaded package module that bound the same function object, so
        calls from inside the package are traced too."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return original(*args, **kwargs)

        for name, mod in list(sys.modules.items()):
            if name.startswith("convert_parquet_to_csv_spark") and getattr(
                mod, attr, None
            ) is original:
                setattr(mod, attr, traced)

    def self_times(self) -> dict[int, float]:
        own = {s.id: s.end - s.start for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@dataclass
class Job:
    layer: str
    call: str
    phase: str
    wall_s: float
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    failed_tasks: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with a benchmark job description, with their task counters
    summed. Untagged jobs (checks, input reads) are left out."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    start: dict[int, tuple[str, int, list[int]]] = {}
    stage_job: dict[int, int] = {}
    jobs: dict[int, Job] = {}
    tasks = defaultdict(list)
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    if desc and desc.count("|") == 2:
                        jid = ev["Job ID"]
                        start[jid] = (desc, ev["Submission Time"], ev["Stage IDs"])
                        for sid in ev["Stage IDs"]:
                            stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in start:
                    desc, submitted, _ = start[ev["Job ID"]]
                    layer, call, phase = desc.split("|")
                    jobs[ev["Job ID"]] = Job(
                        layer, call, phase, (ev["Completion Time"] - submitted) / 1000
                    )
                elif kind == "SparkListenerTaskEnd":
                    tasks[ev["Stage ID"]].append(ev)
    for sid, evs in tasks.items():
        job = jobs.get(stage_job.get(sid))
        if job is None:
            continue
        for ev in evs:
            m = ev.get("Task Metrics") or {}
            job.tasks += 1
            job.executor_run_s += m.get("Executor Run Time", 0) / 1000
            job.gc_s += m.get("JVM GC Time", 0) / 1000
            job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            job.spill_bytes += m.get("Disk Bytes Spilled", 0)
            if ev["Task End Reason"].get("Reason") != "Success":
                job.failed_tasks += 1
    return list(jobs.values())
