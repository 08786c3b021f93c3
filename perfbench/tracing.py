"""Traced-run machinery: spans around the public calls into each layer, a
Spark job group per layer, and attribution of the Spark event log back to
those groups.

Spans are recorded from the benchmark's side of the API only.  ``Tracer``
replaces a public function or method with a wrapper for the duration of the
timed phase (``install`` / ``uninstall``); the wrapper records the span
(name, start, end, parent) and sets ``spark.jobGroup.id`` to the layer name
while the call runs, restoring the caller's group afterwards, so every Spark
job lands in the innermost layer that submitted it.  A layer's self time is
its span minus the spans of its direct children.

Time spent in the tracer itself (job-group calls, probes such as the
files-written listing) is kept out of the spans and summed in
``bookkeeping_s``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from typing import Callable, Dict, List, Optional

GROUP_KEY = "spark.jobGroup.id"


class Span:
    __slots__ = ("name", "start", "end", "parent", "children")

    def __init__(self, name: str, start: float, parent: Optional["Span"]):
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.children: List["Span"] = []

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - sum(c.dur for c in self.children)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: List[Span] = []
        self.counters: Dict[str, float] = defaultdict(float)
        self.bookkeeping_s = 0.0
        self._stack: List[Span] = []
        self._patches: List[tuple] = []

    # -- spans -------------------------------------------------------------

    def _enter(self, name: str) -> tuple:
        b0 = time.perf_counter()
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, name)
        parent = self._stack[-1] if self._stack else None
        t0 = time.perf_counter()
        self.bookkeeping_s += t0 - b0
        span = Span(name, t0, parent)
        if parent is not None:
            parent.children.append(span)
        self._stack.append(span)
        self.spans.append(span)
        return span, prev_group

    def _exit(self, span: Span, prev_group) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        self.sc.setLocalProperty(GROUP_KEY, prev_group)
        self.bookkeeping_s += time.perf_counter() - span.end

    def call(self, name: str, fn: Callable, *args, probe=None, **kwargs):
        """Run ``fn`` inside a span named ``name``.  ``probe(args, kwargs)``
        may return a ``finish(result)`` callback whose dict of counters is
        added under ``name``; both run outside the span."""
        b0 = time.perf_counter()
        finish = probe(args, kwargs) if probe else None
        self.bookkeeping_s += time.perf_counter() - b0
        span, prev = self._enter(name)
        try:
            result = fn(*args, **kwargs)
        finally:
            self._exit(span, prev)
        if finish is not None:
            b0 = time.perf_counter()
            for k, v in finish(result).items():
                self.counters[k] += v
            self.bookkeeping_s += time.perf_counter() - b0
        return result

    # -- wrappers ----------------------------------------------------------

    def install(self, owners: List[object], attr: str, name: str, probe=None) -> None:
        """Wrap ``attr`` on every owner (module or class) that binds the same
        function object, so calls from inside the library go through the
        wrapper too (``router.apply_routed`` calls ``apply_batch`` through its
        own module's binding)."""
        original = getattr(owners[0], attr)
        tracer = self

        def wrapper(*args, **kwargs):
            return tracer.call(name, original, *args, probe=probe, **kwargs)

        wrapper.__wrapped__ = original
        for owner in owners:
            if getattr(owner, attr) is original:
                self._patches.append((owner, attr, original))
                setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def set_group(self, name: Optional[str]) -> None:
        """Job group for work outside any layer span (benchmark code)."""
        self.sc.setLocalProperty(GROUP_KEY, name)

    # -- summaries ---------------------------------------------------------

    def layer_times(self, since: float = 0.0, until: float = float("inf")) -> Dict[str, dict]:
        """Per span name: calls, inclusive seconds, self seconds — over spans
        that started inside [since, until)."""
        out: Dict[str, dict] = {}
        for s in self.spans:
            if not since <= s.start < until:
                continue
            row = out.setdefault(s.name, {"calls": 0, "incl_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["incl_s"] += s.dur
            row["self_s"] += s.self_s
        return out

    def spans_named(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name]


# -- event log -------------------------------------------------------------


def parse_event_log(log_dir: str) -> Dict[str, dict]:
    """Attribute the event log of the (single) application in ``log_dir`` to
    job groups.  Stages map to a group through the properties of their
    ``StageSubmitted`` event; tasks through their stage.  Returns per group:
    jobs, tasks, tasks_failed, shuffle_write_bytes, executor_cpu_s, gc_s,
    output_bytes."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    stage_group: Dict[tuple, str] = {}
    groups: Dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0, "tasks": 0, "tasks_failed": 0, "shuffle_write_bytes": 0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "output_bytes": 0,
        }
    )
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_KEY) or "(none)"
                groups[group]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                group = (ev.get("Properties") or {}).get(GROUP_KEY) or "(none)"
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                g = groups[stage_group.get(key, "(none)")]
                g["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    g["tasks_failed"] += 1
                m = ev.get("Task Metrics") or {}
                g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return dict(groups)
