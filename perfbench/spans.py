"""Tracing for the benchmark's traced run, measured from outside the
engine through public surfaces only:

* spans the benchmark opens around its own calls into each layer
  (``op``, ``suite.build``, ``catalyst.plan``, ``execute``, ``etl.*``);
* Catalyst phase times from ``QueryExecution.tracker().phases()``;
* Spark jobs and stage metrics from the UI REST API (``/jobs``,
  ``/stages``), placed under the span that was open when they ran;
* micro-batches from a ``StreamingQueryListener``.

Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import time
import urllib.request
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener


class Span:
    __slots__ = ("id", "name", "layer", "start", "end", "parent", "children",
                 "attrs", "self_s")

    def __init__(self, sid, name, layer, start, end, parent=None, attrs=None):
        self.id, self.name, self.layer = sid, name, layer
        self.start, self.end, self.parent = start, end, parent
        self.children: list[Span] = []
        self.attrs = attrs or {}
        self.self_s = 0.0

    def contains(self, t: float) -> bool:
        return self.start <= t <= self.end

    def to_json(self) -> dict:
        return {"id": self.id, "parent": self.parent.id if self.parent else None,
                "name": self.name, "layer": self.layer,
                "start": round(self.start, 6), "end": round(self.end, 6),
                "self_s": round(self.self_s, 6), **self.attrs}


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []

    def add(self, name, layer, start, end, parent=None, **attrs) -> Span:
        s = Span(len(self.spans), name, layer, start, end, parent, attrs)
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s)
        return s

    def place(self, name, layer, start, end, candidates, **attrs) -> Span | None:
        """Add an externally timed span under the innermost candidate span
        holding its midpoint; ``None`` if none does."""
        mid = (start + end) / 2
        holders = [c for c in candidates if c.contains(mid)]
        if not holders:
            return None
        parent = min(holders, key=lambda c: c.end - c.start)
        return self.add(name, layer, start, end, parent, **attrs)

    def settle(self, root: Span) -> None:
        """Clip each span to its parent and to the part no earlier sibling
        covers, then set ``self_s`` = own time not covered by children.
        After this, the self times of a subtree sum exactly to its root's
        duration, so every second of an operation is attributed once."""
        def walk(span: Span, lo: float, hi: float) -> None:
            span.start = min(max(span.start, lo), hi)
            span.end = max(min(span.end, hi), span.start)
            covered_until, covered = span.start, 0.0
            for c in sorted(span.children, key=lambda c: c.start):
                walk(c, max(covered_until, span.start), span.end)
                covered += c.end - c.start
                covered_until = max(covered_until, c.end)
            span.self_s = (span.end - span.start) - covered
        walk(root, root.start, root.end)

    def self_table(self) -> dict[str, float]:
        table: dict[str, float] = {}
        for s in self.spans:
            table[s.layer] = table.get(s.layer, 0.0) + s.self_s
        return {k: round(v, 6) for k, v in sorted(table.items())}

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "self_time_s": self.self_table(),
                       "spans": [s.to_json() for s in self.spans]}, f)


def subtree_self(span: Span) -> float:
    return span.self_s + sum(subtree_self(c) for c in span.children)


def catalyst_phases(df) -> dict[str, float]:
    """Force physical planning of ``df`` and read Catalyst's phase
    tracker: seconds spent in analysis, optimization and planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        p = phases.get(k)
        out[k] = p.get().durationMs() / 1000.0 if p.isDefined() else 0.0
    return out


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


class SparkRest:
    """Jobs and stages of the running application from the UI REST API."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.last_job = max((j["jobId"] for j in self._get("/jobs")), default=-1)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call, once none is running
        in the UI store (its listener updates it asynchronously)."""
        deadline = time.time() + 5.0
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] > self.last_job]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.05)
        if jobs:
            self.last_job = max(j["jobId"] for j in jobs)
        for j in jobs:
            j["start"] = _rest_time(j.get("submissionTime"))
            j["end"] = _rest_time(j.get("completionTime")) or j["start"]
        return sorted((j for j in jobs if j["start"] is not None),
                      key=lambda j: j["start"])

    def stages(self, stage_ids: set[int]) -> list[dict]:
        return [s for s in self._get("/stages") if s["stageId"] in stage_ids]


class ProgressListener(StreamingQueryListener):
    """Collects one record per streaming micro-batch."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = dict(p.durationMs)
        start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=timezone.utc).timestamp()
        ops = list(p.stateOperators)
        self.batches.append({
            "query": p.name or str(p.id), "run_id": str(p.runId),
            "batch": p.batchId, "start": start,
            "end": start + d.get("triggerExecution", 0) / 1000.0,
            "input_rows": p.numInputRows,
            "trigger_s": d.get("triggerExecution", 0) / 1000.0,
            "add_batch_s": d.get("addBatch", 0) / 1000.0,
            "state_commit_s": sum(o.commitTimeMs for o in ops) / 1000.0,
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def drain(self, settle_s: float = 0.3) -> list[dict]:
        """Batches reported since the previous call, after waiting for the
        asynchronous listener bus to stop delivering."""
        n = -1
        while n != len(self.batches):
            n = len(self.batches)
            time.sleep(settle_s)
        out, self.batches = self.batches[:n], self.batches[n:]
        return out
