"""Spans recorded from outside the package, and Spark counters read back
from the event log.

A span has a name (``<layer>.<what>``), a layer, a start, an end, a
parent and a context: ``setup`` or ``op<i>`` for the i-th traced op.
Spans are kept in memory and written out once, at the end of the run.
While a span is open on a thread, Spark jobs started from that thread
carry the job description ``perfbench:<layer>:<span id>``; jobs the
package tags itself (``pipeline_stage:<stage>``,
``index_write:<prefix>_<table>``) are attributed by that tag and by the
context whose interval holds their submission time.
"""

from __future__ import annotations

import io
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    ctx: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ctx = "setup"
        self.root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, layer or name.split(".")[0],
                      stack[-1].id if stack else self.root, self.ctx,
                      time.time())
            self.spans.append(sp)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"perfbench:{sp.layer}:{sp.id}")
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            self.sc.setJobDescription(prev)
            sp.end = time.time()

    def record(self, name: str, start: float, end: float) -> Span:
        """A span for an interval that was timed before tracing began."""
        with self._lock:
            sp = Span(len(self.spans), name, name.split(".")[0], self.root,
                      self.ctx, start, end)
            self.spans.append(sp)
        return sp

    @contextmanager
    def context(self, ctx: str, name: str):
        """A top-level span (set-up or one op) that parents every span
        opened inside it, on any thread."""
        self.ctx = ctx
        with self.span(name) as sp:
            self.root = sp.id
            try:
                yield sp
            finally:
                self.root = None

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by child spans."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(kids.get(sp.id, ()), key=lambda c: c.start):
                s, e = max(c.start, sp.start), min(c.end, sp.end)
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.id] = sp.duration - covered
        return out


# ----------------------------------------------------------- event log

def _event_lines(log_dir: str):
    """JSON lines of the (uncompressed) event log(s) under ``log_dir``."""
    for root, _, files in os.walk(log_dir):
        for f in sorted(files):
            if f.endswith(".inprogress") or f.startswith("."):
                continue
            with io.open(os.path.join(root, f), encoding="utf-8") as fh:
                yield from fh


def read_jobs(log_dir: str) -> list[dict]:
    """One record per Spark job: description, submission time (s) and
    summed task counters of its stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tot: dict[int, dict] = {}
    for line in _event_lines(log_dir):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "desc": props.get("spark.job.description") or "",
                "submit": ev.get("Submission Time", 0) / 1000.0,
                "end": None, "stages": ev.get("Stage IDs", [])}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif e == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
        elif e == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            swm = tm.get("Shuffle Write Metrics") or {}
            t = stage_tot.setdefault(ev["Stage ID"], {
                "cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0})
            t["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            t["shuffle_write_mb"] += swm.get("Shuffle Bytes Written", 0) / 1e6
            t["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0)) / 1e6
    out = []
    for jid, j in sorted(jobs.items()):
        tot = {"cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        for sid in j["stages"]:
            if stage_job.get(sid) == jid:
                for k, v in stage_tot.get(sid, {}).items():
                    tot[k] += v
        out.append({"id": jid, "desc": j["desc"], "submit": j["submit"],
                    "end": j["end"], **tot})
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0
