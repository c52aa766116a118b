"""Spans around the engine's layer entry points, and a Spark event-log reader.

The traced leg wraps, for its own duration only, the names the engine's
callers look up (class methods, module globals). Each span tags the Spark
jobs it starts with the local property ``perfbench.span`` so the event log
attributes jobs, task time and bytes to the innermost span. Spans and jobs
are joined after the session stops, when the event log is complete.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"

#: metrics of the one traced consumer read, not of the traced steps
PER_READ = ("table.read_s", "table.read_jobs")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans in memory. Calls in this benchmark never overlap (one
    client, sequential streams; a streaming callback runs while the main
    thread waits), so one stack serves every thread."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            s = Span(next(self._ids), name, parent.sid if parent else None,
                     time.time())
            self._stack.append(s)
            self.spans.append(s)
        self.sc.setLocalProperty(SPAN_PROP, str(s.sid))
        try:
            yield s
        finally:
            s.t1 = time.time()
            with self._lock:
                self._stack.remove(s)
            self.sc.setLocalProperty(
                SPAN_PROP, str(parent.sid) if parent else None
            )

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanning wrapper until ``unwrap``."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(
            owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap each layer's public entry points under a module-named span.
    Table reads are lazy, so ``read`` is not wrapped: the caller puts a
    ``table.read`` span around a read and the action that runs it."""
    from pipelinewise_spark import runner
    from pipelinewise_spark.operators import manifest_table, sync, table
    from pipelinewise_spark.plans import state
    from pipelinewise_spark.sources import singer
    from pipelinewise_spark.streaming import cdc

    for cls in (table.ParquetTable, manifest_table.ManifestTable):
        for verb in ("overwrite", "merge", "append", "merge_on_read"):
            if verb in cls.__dict__:
                tracer.wrap(cls, verb, "table.write")
    tracer.wrap(runner.PipelineRunner, "run_stream", "runner.run_stream")
    tracer.wrap(sync, "prepare_batch", "sync.prepare_batch")
    tracer.wrap(state.BookmarkStore, "save", "state.save")
    tracer.wrap(cdc, "run_cdc_stream", "streaming.run_cdc_stream")
    tracer.wrap(cdc, "apply_change_batch", "streaming.apply_change_batch")
    tracer.wrap(singer, "replay_capture", "sources.singer.replay_capture")
    tracer.wrap(singer, "scan_control_plane", "sources.singer.scan")


# ----------------------------------------------------------- event log
@dataclass
class Job:
    jid: int
    t0: float
    t1: float
    sid: int | None
    stages: list[int]
    executor_s: float = 0.0
    shuffle_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        files = [
            f for f in glob.glob(os.path.join(log_dir, "*"))
            if not f.endswith(".inprogress")
        ]
        if len(files) != 1:
            raise RuntimeError(
                f"expected one finished event log in {log_dir}, found {files}"
            )
        log = cls()
        stage_job: dict[int, int] = {}
        with open(files[0], encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    sid = (ev.get("Properties") or {}).get(SPAN_PROP)
                    job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                              0.0, int(sid) if sid else None,
                              list(ev["Stage IDs"]))
                    log.jobs[job.jid] = job
                    for st in job.stages:
                        stage_job.setdefault(st, job.jid)
                elif kind == "SparkListenerJobEnd":
                    log.jobs[ev["Job ID"]].t1 = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if jid is None or not m:
                        continue
                    job = log.jobs[jid]
                    job.executor_s += m.get("Executor Run Time", 0) / 1000.0
                    job.shuffle_bytes += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
        return log


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def layer_metrics(
    spans: list[Span], log: EventLog, window: tuple[float, float]
) -> dict[str, float]:
    """Per-layer totals over the traced window (not yet per step), and the
    ``PER_READ`` figures of the traced consumer read."""
    by_id = {s.sid: s for s in spans}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def ancestors(sid: int | None):
        while sid is not None:
            s = by_id[sid]
            yield s
            sid = s.parent

    def under(sid: int | None, name: str) -> Span | None:
        """Outermost span called ``name`` on the chain above ``sid``."""
        hit = None
        for s in ancestors(sid):
            if s.name == name:
                hit = s
        return hit

    lo, hi = window
    jobs = [j for j in log.jobs.values() if lo <= j.t0 <= hi]
    out: dict[str, float] = {
        "spark.jobs_total": len(jobs),
        "spark.driver_gap_s": (hi - lo) - union_s(
            [(j.t0, j.t1) for j in jobs], lo, hi),
    }

    # top-level write spans (a merge may call overwrite inside itself)
    writes = [s for s in spans if s.name == "table.write"
              and under(s.parent, "table.write") is None]
    write_jobs: dict[int, list[Job]] = {s.sid: [] for s in writes}
    for j in jobs:
        w = under(j.sid, "table.write")
        if w is not None:
            write_jobs[w.sid].append(j)
    out["table.write_calls"] = len(writes)
    out["table.write_s"] = sum(s.wall for s in writes)
    out["table.write_jobs"] = sum(len(v) for v in write_jobs.values())
    out["table.write_driver_gap_s"] = sum(
        s.wall - union_s([(j.t0, j.t1) for j in write_jobs[s.sid]],
                         s.t0, s.t1)
        for s in writes
    )
    out["table.executor_busy_s"] = sum(
        j.executor_s for v in write_jobs.values() for j in v)
    out["table.shuffle_bytes"] = sum(
        j.shuffle_bytes for v in write_jobs.values() for j in v)
    # the consumer read runs after the step window, so its jobs are
    # looked up in the whole log
    reads = [s for s in spans if s.name == "table.read"]
    out["table.read_s"] = sum(s.wall for s in reads)
    out["table.read_jobs"] = sum(
        1 for j in log.jobs.values()
        if under(j.sid, "table.read") is not None)

    runs = [s for s in spans if s.name == "runner.run_stream"]
    out["runner.self_s"] = sum(
        s.wall - sum(c.wall for c in children.get(s.sid, [])) for s in runs)
    out["runner.self_jobs"] = sum(
        1 for j in jobs if j.sid is not None
        and by_id[j.sid].name == "runner.run_stream")

    scans = [s for s in spans if s.name == "sources.singer.scan"]
    out["sources.singer.scan_s"] = sum(s.wall for s in scans)
    out["sources.singer.jobs"] = sum(
        1 for j in jobs if under(j.sid, "sources.singer.scan") is not None)

    saves = [s for s in spans if s.name == "state.save"]
    out["state.save_calls"] = len(saves)
    out["state.save_s"] = sum(s.wall for s in saves)

    batches = [s for s in spans if s.name == "streaming.apply_change_batch"]
    streams = [s for s in spans if s.name == "streaming.run_cdc_stream"]
    out["streaming.batches"] = len(batches)
    out["streaming.batch_s"] = sum(s.wall for s in batches)
    out["streaming.trigger_overhead_s"] = (
        sum(s.wall for s in streams) - out["streaming.batch_s"]
        if streams else 0.0
    )
    return out
