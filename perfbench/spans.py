"""Spans, Catalyst phase capture and Spark status-store metrics.

A traced pass records spans at the layer boundaries the harness calls
into (pass → day → stage for the pipeline, pass → query → build / plan /
sink for registry queries). Spans live in memory and are written out
once, when the run ends. Spark's own status store (the UI's REST API at
``/api/v1``) supplies job intervals and stage metrics after the timed
window, so nothing is fetched while a pass is being timed. A job counts
toward every span whose interval holds its submission time: the harness
is a single closed-loop client, so no other job runs.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import statistics
import threading
import time
import urllib.request


class Tracer:
    """Span recorder; ``span`` records nothing while ``enabled`` is False."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, kind, time.time(), None)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def add(self, name: str, kind: str, start: float, end: float | None,
            parent: int | None = None) -> int:
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": len(self.spans), "name": name, "kind": kind,
                           "parent": parent, "start": start, "end": end})
        return len(self.spans) - 1

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def subtree(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(self.spans[cur])
            todo.extend(s["id"] for s in self.children(cur))
        return out

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c["start"], c["end"]) for c in self.children(span["id"])]
        return (span["end"] - span["start"]) - covered(
            kids, span["start"], span["end"]
        )


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


class PlanListener:
    """A ``QueryExecutionListener`` (via the py4j callback server) that
    keeps each finished query execution's Catalyst phases — analysis,
    optimization, planning — as (start, end) epoch seconds."""

    def __init__(self) -> None:
        self.events: list[dict[str, tuple[float, float]]] = []
        self._lock = threading.Lock()

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (JVM API)
        it = qe.tracker().phases().iterator()
        phases = {}
        while it.hasNext():
            kv = it.next()
            start = kv._2().startTimeMs() / 1000.0
            phases[kv._1()] = (start, start + kv._2().durationMs() / 1000.0)
        with self._lock:
            self.events.append(phases)

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        pass

    def phases_within(self, lo: float, hi: float) -> tuple[float, float] | None:
        """Earliest start and latest end of the phases that began in
        [lo, hi], clipped to it; None when no execution was planned there."""
        with self._lock:
            spans = [p for ev in self.events for p in ev.values()
                     if lo <= p[0] <= hi]
        if not spans:
            return None
        return min(a for a, _ in spans), min(hi, max(b for _, b in spans))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_plan_listener(spark) -> PlanListener:
    from pyspark.java_gateway import ensure_callback_server_started

    listener = PlanListener()
    ensure_callback_server_started(spark.sparkContext._gateway)
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def drain_listener_bus(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status store and the plan listener hold the whole run."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _epoch(stamp: str) -> float:
    return dt.datetime.strptime(stamp[:-3], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


class StatusStore:
    """Jobs and stages of this application, read from the UI's REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as resp:
            return json.load(resp)

    def jobs(self) -> list[dict]:
        out = []
        for j in self._get("/jobs"):
            if "submissionTime" not in j or "completionTime" not in j:
                continue
            out.append({"id": j["jobId"], "start": _epoch(j["submissionTime"]),
                        "end": _epoch(j["completionTime"])})
        return out

    def stages(self) -> list[dict]:
        """Every stage attempt that ran to completion, with its epoch
        ``start``. Skipped stages (shuffle output reused from an earlier
        job) never ran, so they are not listed and are not counted twice."""
        return [{**s, "start": _epoch(s["submissionTime"])}
                for s in self._get("/stages?status=complete")]

    def task_time_quantiles(self, stage: dict) -> tuple[float, float]:
        """(median, max) task run time of one stage attempt, in ms."""
        q = self._get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )
        return q["executorRunTime"][0], q["executorRunTime"][1]


def pass_spark_metrics(store: StatusStore, jobs: list[dict],
                       stages: list[dict], span: dict, cores: int) -> dict:
    """Job, driver-gap and executor figures of one traced pass."""
    lo, hi = span["start"], span["end"]
    mine = [j for j in jobs if lo <= j["start"] <= hi]
    wall = hi - lo
    in_jobs = covered([(j["start"], j["end"]) for j in mine], lo, hi)
    run = [s for s in stages if lo <= s["start"] <= hi]
    executor_run_s = sum(s["executorRunTime"] for s in run) / 1e3
    skew = 1.0
    if run:
        widest = max(run, key=lambda s: (s["numTasks"], s["executorRunTime"]))
        med, top = store.task_time_quantiles(widest)
        skew = top / med if med > 0 else 1.0
    return {
        "spark.jobs": len(mine),
        "spark.driver_gap_s": wall - in_jobs,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in run) / 1e9,
        "spark.executor_run_s": executor_run_s,
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in run),
        "spark.spill_bytes": sum(s["diskBytesSpilled"] for s in run),
        "spark.stage_skew": skew,
        "spark.core_busy_frac": executor_run_s / (wall * cores),
        "io.bytes_written": sum(s["outputBytes"] for s in run),
    }


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default
