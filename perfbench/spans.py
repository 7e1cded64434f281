"""In-memory spans recorded around the calls the benchmark makes into
each layer of the engine, plus the small statistics helpers the
workloads share.

A span is (id, parent, name, layer, start, end, job group). Spans that
may launch Spark jobs carry a job group; the event-log parser later
turns each job into a child span of the span with its group. Nothing
is written while the workload runs: ``Tracer.dump`` writes the spans
once, after the timed window.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import time


class Tracer:
    """Records spans and keeps the Spark job group in step with the
    innermost open span that owns one. Job groups are set whether or
    not spans are kept, so traced and untraced runs issue the same
    calls on the timed path."""

    def __init__(self, sc, keep: bool):
        self._sc = sc
        self.keep = keep
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._groups: list[str] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, layer: str, spark_group: bool = False, **attrs):
        self._next += 1
        sid = self._next
        group = None
        if spark_group:
            group = f"pb-{sid}"
            self._groups.append(group)
            self._sc.setJobGroup(group, name)
        rec = {
            "id": sid,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "layer": layer,
            "group": group,
            **attrs,
        }
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group is not None:
                self._groups.pop()
                if self._groups:
                    self._sc.setJobGroup(self._groups[-1], "")
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
            if self.keep:
                self.spans.append(rec)

    def record(self, name: str, layer: str, start: float, end: float, **attrs) -> dict:
        """Add a span measured elsewhere (session start-up, a streaming
        micro-batch reported by the query)."""
        self._next += 1
        rec = {"id": self._next, "parent": None, "name": name, "layer": layer,
               "group": None, "start": start, "end": end, **attrs}
        if self.keep:
            self.spans.append(rec)
        return rec

    def total(self, layer: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["layer"] == layer)

    def add_jobs(self, jobs: list[dict]) -> None:
        """Attach event-log jobs as child spans of the span that owns
        their job group; when several spans share a group (micro-batches
        of one streaming query), the one whose interval holds the job's
        start. Jobs of no known group hang off the root."""
        by_group: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["group"]:
                by_group.setdefault(s["group"], []).append(s)
        for j in jobs:
            owners = by_group.get(j["group"], [])
            owner = next((s for s in owners if s["start"] <= j["start"] <= s["end"]),
                         owners[0] if owners else None)
            self._next += 1
            self.spans.append(
                {
                    "id": self._next,
                    "parent": owner["id"] if owner else None,
                    "name": f"job {j['job_id']}",
                    "job_id": j["job_id"],
                    "layer": "ckpt" if j["ckpt"] else "exec",
                    "group": j["group"],
                    "start": j["start"],
                    "end": j["end"],
                }
            )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def subtree(spans: list[dict], roots: list[dict]) -> list[dict]:
    """The given spans and every span below them."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], list(roots)
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: summed span duration minus the part of each span its
    children (within ``spans``) cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered = union_length(
            [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])]
        )
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(s["end"] - s["start"] - covered, 0.0)
    return out


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def count_files(path: str, suffix: str) -> int:
    return sum(f.endswith(suffix) for _, _, fs in os.walk(path) for f in fs)


def p50(values) -> float:
    return statistics.median(values) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). With ten samples or fewer no
    percentile qualifies, and the maximum is returned as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], round(100.0 * (n - 10) / n, 1), n


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0
