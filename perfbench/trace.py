"""Span tracing at the benchmark's own call boundaries.

A span is one call into a layer of the package (``cdc.log``,
``cdc.materialize``, ...) or one operation of the workload that causes
such calls (a ``cycle``, ``batch`` or ``read``). Spans hold their name,
start and end (epoch seconds), parent span and run id, and stay in
memory until ``write`` dumps them as JSON lines.

Spark work is attributed per span with a job group the tracer sets
before the call (``setJobGroup``): after the call it waits for the
listener bus, lists the group's jobs (``statusTracker``) and reads
their intervals and stage metrics from the application status store
(``sc._jsc.sc().statusStore()``), which works with the UI disabled.
Reading per call keeps the numbers from being lost when the store
evicts old jobs. With tracing off every method is a no-op.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str):
        #: off until the caller turns it on (a traced run records only the
        #: measured loop, not set-up)
        self.enabled = False
        self.run_id = run_id
        self.spans: list[dict] = []
        #: intervals spent in the tracer's own bookkeeping; they count
        #: as neither a layer's nor its parent's time
        self.overhead: list[list[float]] = []
        self._sc = spark.sparkContext
        self._stack: list[int] = []
        self._next = 0

    def _group(self, span_id: int) -> str:
        return f"perfbench-{self.run_id}-{span_id}"

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one call; yields the span record (``None`` when off) so
        the caller can attach counts measured at the same boundary."""
        if not self.enabled:
            yield None
            return
        t0 = time.time()
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"run": self.run_id, "id": sid, "name": name, "parent": parent}
        rec.update(attrs)
        self._sc.setJobGroup(self._group(sid), name)
        self._stack.append(sid)
        rec["start"] = time.time()
        self.overhead.append([t0, rec["start"]])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            rec.update(self._spark_work(self._group(sid)))
            if parent is not None:
                self._sc.setJobGroup(self._group(parent), "")
            else:
                self._sc._jsc.clearJobGroup()
            self.spans.append(rec)
            self.overhead.append([rec["end"], time.time()])

    @contextmanager
    def aside(self):
        """Bookkeeping done for the trace only (reading a manifest to
        count what a call changed); its time counts as overhead."""
        if not self.enabled:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            self.overhead.append([t0, time.time()])

    @property
    def overhead_s(self) -> float:
        return sum(b - a for a, b in self.overhead)

    def add(self, rec: dict) -> None:
        """Record a span measured elsewhere (a streaming micro-batch)."""
        if self.enabled:
            self.spans.append({"run": self.run_id, "id": self._next, **rec})
            self._next += 1

    def _spark_work(self, group: str) -> dict:
        sc = self._sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        no_status = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        out = {
            "jobs": 0,
            "job_intervals": [],
            "exec_run_s": 0.0,
            "input_bytes": 0,
            "input_records": 0,
            "output_records": 0,
            "shuffle_bytes": 0,
        }
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                out["job_intervals"].append(
                    [sub.get().getTime() / 1000.0, end.get().getTime() / 1000.0]
                )
            stage_ids = job.stageIds().iterator()
            while stage_ids.hasNext():
                attempts = store.stageData(
                    stage_ids.next(), False, no_status, False, no_quantiles
                ).iterator()
                while attempts.hasNext():
                    st = attempts.next()
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["exec_run_s"] += st.executorRunTime() / 1000.0
                    out["input_bytes"] += st.inputBytes()
                    out["input_records"] += st.inputRecords()
                    out["output_records"] += st.outputRecords()
                    out["shuffle_bytes"] += st.shuffleWriteBytes()
        return out

    def write(self, path: str) -> None:
        """Spans as JSON lines, then one ``trace.overhead`` line per
        bookkeeping interval of the tracer itself."""
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")
            for a, b in self.overhead:
                rec = {"run": self.run_id, "name": "trace.overhead",
                       "parent": None, "start": a, "end": b}
                f.write(json.dumps(rec, sort_keys=True) + "\n")


# -- reading spans -----------------------------------------------------------


def union_length(intervals: list[list[float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(
    spans: list[dict], overhead: list[list[float]] | None = None
) -> dict[int, float]:
    """Span id -> duration minus the part its child spans (and the
    tracer's own bookkeeping) cover."""
    children: dict[int, list[list[float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append([s["start"], s["end"]])
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(
            children.get(s["id"], []) + (overhead or []), s["start"], s["end"]
        )
        for s in spans
    }


def layer_stats(spans: list[dict], layer: str) -> dict[str, float]:
    """The seven stats of one call-boundary layer over a run's spans:
    calls, busy_s, driver_s, jobs, exec_run_s, input_bytes and
    shuffle_bytes."""
    mine = [s for s in spans if s["name"] == layer]
    busy = sum(s["end"] - s["start"] for s in mine)
    in_jobs = sum(
        union_length(s["job_intervals"], s["start"], s["end"]) for s in mine
    )
    return {
        "calls": len(mine),
        "busy_s": busy,
        "driver_s": busy - in_jobs,
        "jobs": sum(s["jobs"] for s in mine),
        "exec_run_s": sum(s["exec_run_s"] for s in mine),
        "input_bytes": sum(s["input_bytes"] for s in mine),
        "shuffle_bytes": sum(s["shuffle_bytes"] for s in mine),
    }


def coverage(
    spans: list[dict], overhead: list[list[float]], parent_name: str
) -> list[float]:
    """Per ``parent_name`` span: share of its wall time, less the
    tracer's bookkeeping, that its child layer spans cover."""
    st = self_times(spans, overhead)
    out = []
    for s in spans:
        if s["name"] != parent_name:
            continue
        wall = (s["end"] - s["start"]) - union_length(
            overhead, s["start"], s["end"]
        )
        if wall > 0:
            out.append(1.0 - st[s["id"]] / wall)
    return out
