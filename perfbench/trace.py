"""Span tracing for traced benchmark runs.

Spans are recorded from the benchmark's own files, around each call
into a layer's public function, and kept in memory until the run ends.
Every span also attaches a Spark job tag, so the jobs a span triggers
can be found again in the run's event log (see ``EventLog``) and their
executor metrics attributed to it.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from perfbench.stats import Span

TAG_PREFIX = "pb-span-"


class Tracer:
    """Records spans; a disabled tracer costs one branch per span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def suspended(self):
        """Record no spans on this thread inside the block (the untraced
        ops of a traced run)."""
        prev = getattr(self._local, "off", False)
        self._local.off = True
        try:
            yield
        finally:
            self._local.off = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled or getattr(self._local, "off", False):
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        s = Span(
            span_id=sid,
            name=name,
            trace_id=parent.trace_id if parent else sid,
            parent_id=parent.span_id if parent else None,
            start=time.perf_counter(),
            tag=f"{TAG_PREFIX}{sid}",
        )
        stack.append(s)
        self.sc.addJobTag(s.tag)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.sc.removeJobTag(s.tag)
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def wrap_functions(tracer: Tracer, modules, names, layer: str):
    """Replace ``module.name`` with a span-recording wrapper wherever a
    module bound one of ``names``; returns a function that undoes it."""
    saved = []
    for mod in modules:
        for name in names:
            fn = getattr(mod, name, None)
            if fn is None:
                continue

            def wrapper(*args, _fn=fn, _span=f"{layer}.{name}", **kwargs):
                with tracer.span(_span):
                    return _fn(*args, **kwargs)

            saved.append((mod, name, fn))
            setattr(mod, name, wrapper)

    def undo():
        for mod, name, fn in saved:
            setattr(mod, name, fn)

    return undo


class EventLog:
    """Per-job executor metrics from a Spark JSON event log.

    A job carries the tags of every span open on the thread that
    started it (``spark.job.tags``); streaming micro-batch jobs instead
    carry their query id and batch id.
    """

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        latest_job_of_stage: dict[int, int] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tags = props.get("spark.job.tags") or ""
                    job = {
                        "tags": {t for t in tags.split(",") if t},
                        "stage_ids": list(ev.get("Stage IDs", [])),
                        "submitted": set(),
                        "stream": (props.get("sql.streaming.queryId"),
                                   props.get("streaming.sql.batchId")),
                    }
                    self.jobs[ev["Job ID"]] = job
                    for sid in job["stage_ids"]:
                        latest_job_of_stage[sid] = ev["Job ID"]
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    st = self.stages.setdefault(sid, _empty_stage())
                    st["job"] = latest_job_of_stage.get(sid)
                    if st["job"] in self.jobs:
                        self.jobs[st["job"]]["submitted"].add(sid)
                elif kind == "SparkListenerTaskEnd":
                    st = self.stages.setdefault(ev["Stage ID"], _empty_stage())
                    st["tasks"] += 1
                    info = ev.get("Task Info") or {}
                    if info.get("Failed"):
                        st["failed"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["run_s"] += (m.get("Executor Run Time") or 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_bytes"] += sw.get("Shuffle Bytes Written") or 0

    def job_metrics(self, job_ids) -> dict:
        """Summed metrics of the stages these jobs ran."""
        out = {"jobs": 0, "tasks": 0, "task_s": 0.0, "shuffle_bytes": 0,
               "failed_tasks": 0, "stages_listed": 0, "stages_skipped": 0,
               "max_stage": None}
        for jid in job_ids:
            job = self.jobs[jid]
            out["jobs"] += 1
            out["stages_listed"] += len(job["stage_ids"])
            out["stages_skipped"] += len(job["stage_ids"]) - len(job["submitted"])
            for sid in job["submitted"]:
                st = self.stages.get(sid)
                if st is None:
                    continue
                out["tasks"] += st["tasks"]
                out["task_s"] += st["run_s"]
                out["shuffle_bytes"] += st["shuffle_bytes"]
                out["failed_tasks"] += st["failed"]
                if out["max_stage"] is None or st["run_s"] > out["max_stage"]["run_s"]:
                    out["max_stage"] = st
        return out

    def jobs_tagged(self, tag: str) -> list[int]:
        return [jid for jid, j in self.jobs.items() if tag in j["tags"]]

    def jobs_of_batch(self, query_id: str, batch_id: int) -> list[int]:
        key = (query_id, str(batch_id))
        return [jid for jid, j in self.jobs.items() if j["stream"] == key]


def _empty_stage() -> dict:
    return {"tasks": 0, "failed": 0, "run_s": 0.0, "shuffle_bytes": 0, "job": None}


def find_event_log(log_dir: str) -> str | None:
    """The newest application log in ``log_dir`` (one per SparkContext)."""
    if not os.path.isdir(log_dir):
        return None
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.endswith(".inprogress")]
    return max(files, key=os.path.getmtime) if files else None
