"""Spans around layer calls, with Spark work attributed per call.

A :class:`Tracer` records one span per call into a layer: name, start,
end, parent span and the op it belongs to. Spans are kept in memory and
written out once, when the run ends. With Spark attribution on, each span
runs its call under its own job group; right after the call the jobs of
that group are read back from the driver's status store (which keeps only
the last ``spark.ui.retainedStages`` stages, hence the read after every
call) and each job becomes a ``spark.job`` child span carrying the job's
stage, task, executor-time, shuffle and spill counters. The status store
is populated with ``spark.ui.enabled=false``, so no UI session is needed.

A disabled tracer records nothing and touches no Spark state: the
untraced run measures the program alone.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

JOB = "spark.job"
_COUNTERS = ("stages", "tasks", "executor_ms", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Attribute Spark jobs through ``sc`` (call again after a session
        restart)."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        sp = {"id": next(self._ids), "name": name, "op": op,
              "parent": self._stack[-1]["id"] if self._stack else None}
        group = f"rqlbench-{sp['id']}"
        self._stack.append(sp)
        if self._sc is not None:
            self._sc.setJobGroup(group, name)
        sp["start"] = time.time()
        try:
            yield
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if self._sc is not None:
                self._restore_group()
                self.spans.extend(self._job_spans(group, sp))

    def _restore_group(self) -> None:
        if self._stack:
            outer = self._stack[-1]
            self._sc.setJobGroup(f"rqlbench-{outer['id']}", outer["name"])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def _job_spans(self, group: str, parent: dict) -> list[dict]:
        from py4j.protocol import Py4JJavaError

        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        out = []
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            span = {
                "id": next(self._ids), "name": JOB, "op": parent["op"],
                "parent": parent["id"], "job_id": int(jid),
                "start": sub.get().getTime() / 1000 if sub.isDefined() else parent["start"],
                "end": done.get().getTime() / 1000 if done.isDefined() else parent["end"],
                **dict.fromkeys(_COUNTERS, 0),
            }
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info is not None else ()):
                try:
                    st = store.lastStageAttempt(int(sid))
                except Py4JJavaError:  # evicted from the store or never submitted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                span["stages"] += 1
                span["tasks"] += st.numCompleteTasks()
                span["executor_ms"] += st.executorRunTime()
                span["shuffle_read_bytes"] += st.shuffleReadBytes()
                span["shuffle_write_bytes"] += st.shuffleWriteBytes()
                span["spill_bytes"] += (st.memoryBytesSpilled()
                                        + st.diskBytesSpilled())
            out.append(span)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover
    (children may overlap one another: AQE runs query stages as
    concurrent jobs)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - _covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def by_op(spans: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for s in spans:
        out.setdefault(s["op"], []).append(s)
    return out


def layer_of(span: dict, index: dict[int, dict]) -> str:
    """The harness span a Spark job ran under (the job's parent)."""
    return index[span["parent"]]["name"] if span["name"] == JOB else span["name"]


def op_summary(spans: list[dict]) -> dict:
    """Per-op totals: inclusive and self seconds per span name, and the
    Spark counters of the jobs grouped by the layer they ran under."""
    index = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    out: dict = {"s": {}, "self_s": {}, "jobs": {}}
    for s in spans:
        if s["name"] == JOB:
            layer = layer_of(s, index)
            c = out["jobs"].setdefault(layer, {"jobs": 0, "job_s": [],
                                               **dict.fromkeys(_COUNTERS, 0)})
            c["jobs"] += 1
            c["job_s"].append((s["start"], s["end"]))
            for k in _COUNTERS:
                c[k] += s[k]
            continue
        out["s"][s["name"]] = out["s"].get(s["name"], 0.0) + s["end"] - s["start"]
        out["self_s"][s["name"]] = out["self_s"].get(s["name"], 0.0) + selfs[s["id"]]
    for c in out["jobs"].values():
        c["job_s"] = _covered(c["job_s"], float("-inf"), float("inf"))
    return out
