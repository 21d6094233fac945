"""Spans around the engine's public functions, and Spark job metrics.

A :class:`Tracer` wraps functions of the engine from the outside
(module or class attributes, replaced at run time and put back by
:meth:`Tracer.unwrap`). While tracing is on, every wrapped call is a
span — (id, name, layer, parent, op id, start, end) kept in memory —
and the span's id is the Spark job group of the jobs it launches, so
the jobs read back from Spark's REST API after the timed section can
be attributed to the innermost span that launched them. While tracing
is off the wrappers only forward the call.
"""

from __future__ import annotations

import json
import os
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone
from time import time


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.op_id: int | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        # op id -> counter name -> value, for counts read outside spans
        self.counts: dict[int, dict[str, float]] = {}
        self.traced_ops: set[int] = set()

    def count(self, key: str, value: float) -> None:
        """Add to a counter of the current op."""
        c = self.counts.setdefault(self.op_id, {})
        c[key] = c.get(key, 0) + value

    # ---- spans -----------------------------------------------------
    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb:{span['op']}:{span['id']}", span["name"])

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        s = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op_id,
            "start": time(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, owner: object, attr: str, layer: str, name: str | None = None,
             after=None) -> None:
        """Replace ``owner.attr`` with a spanned forwarder. ``after``,
        if given, runs outside the span with the call's arguments."""
        original = getattr(owner, attr)
        span_name = name or attr

        def wrapped(*args, **kwargs):
            with self.span(span_name, layer):
                out = original(*args, **kwargs)
            if after is not None and self.enabled:
                after(*args, **kwargs)
            return out

        wrapped.__wrapped__ = original
        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, original))

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---- span arithmetic ----------------------------------------------
def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(children.get(s["id"], []))
        for s in spans
    }


def subtree_ids(spans: list[dict], root_ids: set[int]) -> set[int]:
    out = set(root_ids)
    for s in spans:  # spans are appended in start order: parents first
        if s["parent"] in out:
            out.add(s["id"])
    return out


# ---- Spark REST API -------------------------------------------------
def _rest(sc, path: str):
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.loads(r.read())


def _epoch(stamp: str) -> float:
    # e.g. 2026-10-17T07:39:52.158GMT
    return datetime.strptime(stamp[:-3], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def spark_jobs(sc) -> list[dict]:
    """Every retained job that ran under a benchmark job group, with
    its interval, task count and the summed metrics of the stages it
    ran (a stage reused by a later job counts for the first one)."""
    jobs = [j for j in _rest(sc, "jobs") if str(j.get("jobGroup", "")).startswith("pb:")]
    stages = {
        s["stageId"]: s
        for s in _rest(sc, "stages?details=false")
        if s.get("status") == "COMPLETE"
    }
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    out = []
    for j in jobs:
        _, op, span = j["jobGroup"].split(":")
        own = [stages[s] for s in j["stageIds"] if owner.get(s) == j["jobId"] and s in stages]
        out.append({
            "op": int(op),
            "span": int(span),
            "start": _epoch(j["submissionTime"]),
            "end": _epoch(j["completionTime"]) if j.get("completionTime") else _epoch(j["submissionTime"]),
            "tasks": j.get("numCompletedTasks", 0),
            "cpu_s": sum(s.get("executorCpuTime", 0) for s in own) / 1e9,
            "run_s": sum(s.get("executorRunTime", 0) for s in own) / 1e3,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in own) / 1e3,
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in own) / 1e6,
            "spill_mb": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in own
            ) / 1e6,
        })
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per planning phase recorded by the DataFrame's own
    QueryExecution (analysis, optimization, planning)."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1e3
    return out
