"""Span store for the traced run, and attribution of Spark's event-log
task metrics to those spans.

Spans are opened from the benchmark's side only: ``Tracer.wrap``
replaces a public function of a program module (or a method of a
program class) with one that records a span around the call. While a
span is open, the Spark jobs its thread submits carry the span id as
their job group, so the event log ties each job to its span. Jobs
submitted from other threads (a streaming query's micro-batches, a
fit pool) are attributed by time: to the innermost span whose window
holds the job's submission time.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "perfbench-span-"
# physical operators that run Python workers: Python UDFs, pandas/Arrow
# maps, and the scans of Python DataSource streams (MicroBatchScan; the
# change-feed source is the only streaming source the workloads read)
_PYTHON_OP = re.compile(r"Python|Pandas|Arrow|MicroBatchScan")
COUNTERS = ("jobs", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_bytes",
            "input_bytes", "output_bytes", "python_ms")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[dict] = []
        self.sc = None  # set once the SparkContext exists

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{_GROUP}{span['id']}", span["name"])

    @contextmanager
    def span(self, name: str, detail: str = ""):
        """Record ``name`` around the block. No-op when tracing is off."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        # a span opened on a helper thread hangs under the main
        # thread's innermost open span
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            s = {"id": len(self.spans), "name": name, "detail": detail,
                 "parent": parent["id"] if parent else None,
                 "start": time.time(), "end": None, "attrs": {}}
            self.spans.append(s)
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def wrap(self, owner, attr: str, name: str, detail=None, after=None):
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``detail(*args, **kw)`` names the span's target; ``after(span,
        result, *args, **kw)`` records counters once the call returns,
        outside the span's timing."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kw):
            with self.span(name, detail(*args, **kw) if detail else "") as s:
                result = fn(*args, **kw)
            if after is not None:
                after(s, result, *args, **kw)
            return result

        setattr(owner, attr, traced)

    # -- attribution -------------------------------------------------

    def attribute(self, eventlog_dir: str) -> None:
        """Add per-span self counters (``COUNTERS``) from the event
        logs under ``eventlog_dir``. Call after the SparkContext
        stopped, so the logs are complete."""
        jobs, stage_job, stage_py = {}, {}, {}
        per_stage = defaultdict(lambda: defaultdict(float))
        # one log per SparkContext; Spark 4 rolls each into a directory
        files = [(app, f) for app in sorted(glob.glob(f"{eventlog_dir}/*"))
                 for f in ([app] if os.path.isfile(app) else
                           sorted(glob.glob(f"{app}/events_*")))]
        for path, name in files:
            with open(name) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jid = (path, ev["Job ID"])
                        jobs[jid] = (ev["Submission Time"] / 1000.0,
                                     props.get("spark.jobGroup.id") or "")
                        for sid in ev["Stage IDs"]:
                            stage_job.setdefault((path, sid), jid)
                    elif kind == "SparkListenerStageSubmitted":
                        info = ev["Stage Info"]
                        scopes = " ".join(
                            r.get("Scope", "") or "" for r in info.get("RDD Info", []))
                        stage_py[(path, info["Stage ID"])] = bool(
                            _PYTHON_OP.search(scopes))
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics")
                        if not m:
                            continue
                        st = per_stage[(path, ev["Stage ID"])]
                        sr = m.get("Shuffle Read Metrics", {})
                        sw = m.get("Shuffle Write Metrics", {})
                        st["tasks"] += 1
                        st["run_ms"] += m.get("Executor Run Time", 0)
                        st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                        st["gc_ms"] += m.get("JVM GC Time", 0)
                        st["shuffle_bytes"] += (
                            sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0)
                            + sw.get("Shuffle Bytes Written", 0))
                        st["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                        st["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
        for s in self.spans:
            s["self"] = dict.fromkeys(COUNTERS, 0.0)
        job_span = {jid: self._span_for(submit, group)
                    for jid, (submit, group) in jobs.items()}
        for jid, span in job_span.items():
            if span is not None:
                span["self"]["jobs"] += 1
        for sid, st in per_stage.items():
            span = job_span.get(stage_job.get(sid))
            if span is None:
                continue
            for k, v in st.items():
                span["self"][k] += v
            if stage_py.get(sid):
                span["self"]["python_ms"] += st["run_ms"]

    def _span_for(self, submit: float, group: str) -> dict | None:
        if group.startswith(_GROUP):
            return self.spans[int(group[len(_GROUP):])]
        inside = [s for s in self.spans
                  if s["end"] is not None and s["start"] <= submit <= s["end"]]
        return max(inside, key=lambda s: s["start"]) if inside else None

    # -- queries over the span tree ------------------------------------

    def descendants(self, root: dict) -> list[dict]:
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s["id"]])
        return out

    def self_times(self) -> None:
        """``self_s``: the span's duration minus the part of it that
        its children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            s["self_s"] = (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Scope:
    """The spans under one timed cycle, queried by name."""

    def __init__(self, spans: list[dict]):
        self.spans = spans
        ids = {s["id"] for s in spans}
        by_id = {s["id"]: s for s in spans}

        def outermost(s: dict) -> bool:
            p = s["parent"]
            while p in ids:
                if by_id[p]["name"] == s["name"]:
                    return False
                p = by_id[p]["parent"]
            return True

        self._top = [s for s in spans if outermost(s)]
        self._inclusive: dict[int, dict] = {}
        kids = defaultdict(list)
        for s in spans:
            kids[s["parent"]].append(s)

        def incl(s: dict) -> dict:
            if s["id"] not in self._inclusive:
                tot = dict(s.get("self", {}))
                for c in kids[s["id"]]:
                    for k, v in incl(c).items():
                        tot[k] = tot.get(k, 0.0) + v
                self._inclusive[s["id"]] = tot
            return self._inclusive[s["id"]]

        self._incl = incl

    def named(self, name: str, detail=None) -> list[dict]:
        return [s for s in self._top if s["name"] == name
                and (detail is None or detail(s["detail"]))]

    def seconds(self, name: str, detail=None) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name, detail))

    def counter(self, name: str, key: str, detail=None) -> float:
        return sum(self._incl(s).get(key, 0.0) for s in self.named(name, detail))

    def attr(self, name: str, key: str) -> float:
        return sum(s["attrs"].get(key, 0.0) for s in self.named(name))

    def layer_self(self, prefix: str, key: str) -> float:
        return sum(s.get("self", {}).get(key, 0.0) for s in self.spans
                   if s["name"].startswith(prefix))
