"""Tracing for the traced run (``--trace 1``).

Everything here lives in the benchmark and wraps the engine from outside:
spans around the calls into each layer, a counting wrapper on the py4j
gateway client, Spark job groups read back through the status tracker, a
``QueryExecutionListener`` for Catalyst phase times, and the app status
store for shuffle and spill bytes.  Nothing under ``bifrost_spark/`` is
edited.  Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

_MEMORY_COMMAND = "m\n"  # py4j's object-release command, sent from GC


class Tracer:
    """Spans (name, start, end, parent, op) plus a py4j call counter.

    ``enabled`` switches recording on and off so one process can time
    traced and untraced passes back to back and report the overhead."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        # parent for spans opened on threads that have no open span of
        # their own, such as the foreachBatch callbacks of a stream
        self.fallback_parent: int | None = None

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "op": op if op is not None else (parent or {}).get("op"),
                "parent": parent["id"] if parent else self.fallback_parent,
                "start": time.perf_counter(),
                "end": None,
                "py4j": self.py4j_calls,
            }
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            # py4j commands sent from any thread while the span was open
            rec["py4j"] = self.py4j_calls - rec["py4j"]
            stack.pop()

    # -- py4j ----------------------------------------------------------
    def install_py4j_counter(self, gateway_client) -> None:
        """Count every py4j command the Python side sends, except object
        releases (sent whenever Python's GC runs, so not repeatable) and
        calls made by the tracer itself."""
        send = gateway_client.send_command

        def counting_send(command, *args, **kwargs):
            if (
                self.enabled
                and not command.startswith(_MEMORY_COMMAND)
                and not getattr(self._local, "muted", False)
            ):
                with self._lock:
                    self.py4j_calls += 1
            return send(command, *args, **kwargs)

        gateway_client.send_command = counting_send

    @contextmanager
    def muted(self):
        """py4j calls made inside do not count (the tracer's own reads)."""
        prev = getattr(self._local, "muted", False)
        self._local.muted = True
        try:
            yield
        finally:
            self._local.muted = prev

    # -- output --------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name: a span's duration minus the
        part of it that its child spans cover."""
        children: dict[int, list[tuple]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            # sweep the children in start order, counting overlaps once
            covered, reached = 0.0, s["start"]
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, reached), min(hi, s["end"])
                if hi > lo:
                    covered += hi - lo
                    reached = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"meta": meta, "self_time_s": self.self_times(), "spans": self.spans},
                fh,
            )


class JobCounter:
    """Jobs, stages, tasks, shuffle-write and spill bytes per job group,
    read from Spark's status tracker and app status store."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._tracer = tracer

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    def drain_events(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds every job submitted so far."""
        with self._tracer.muted():
            self._jsc.listenerBus().waitUntilEmpty()

    def group_stats(self, group: str) -> dict[str, int]:
        with self._tracer.muted():
            tracker = self._sc.statusTracker()
            store = self._jsc.statusStore()
            stats = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
            for job_id in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job_id)
                stats["jobs"] += 1
                for stage_id in info.stageIds if info else ():
                    st = tracker.getStageInfo(stage_id)
                    # stages whose shuffle output was reused are listed by
                    # the job but never run
                    if st is None or st.numCompletedTasks == 0:
                        continue
                    stats["stages"] += 1
                    stats["tasks"] += st.numTasks
                    data = store.lastStageAttempt(stage_id)
                    stats["shuffle_write_bytes"] += data.shuffleWriteBytes()
                    stats["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
            return stats


class CatalystListener:
    """py4j implementation of ``QueryExecutionListener``: sums the
    analysis, optimization and planning phase times of every query
    execution Spark reports (actions run during plan construction as well
    as the timed writes)."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, tracer: Tracer) -> None:
        self._tracer = tracer
        self.totals = {p: 0.0 for p in self.PHASES}
        self.executions = 0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        if not self._tracer.enabled:
            return
        with self._tracer.muted():
            phases = qe.tracker().phases()
            for p in self.PHASES:
                opt = phases.get(p)
                if opt.isDefined():
                    self.totals[p] += opt.get().durationMs()
            self.executions += 1

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def register(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)
