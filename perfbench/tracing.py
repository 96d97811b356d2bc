"""Per-layer readings for a traced benchmark run.

Everything here observes the engine from outside: spans around the
benchmark's own calls into the engine, a count of py4j round trips
made while a query builds its plan, Spark's status store for job and
stage facts, and a ``StreamingQueryListener`` for micro-batch progress.
Nothing in ``splitserve_spark`` is patched.
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    """In-memory span tree: one dict per span with an id, its parent's
    id (``None`` for the root), a name and start/end seconds since
    process start.  Written out once, when the run ends."""

    def __init__(self, t0: float):
        self._t0 = t0
        self.items: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: int | None):
        item = {"id": len(self.items), "parent": parent, "name": name,
                "start": time.perf_counter() - self._t0, "end": None}
        self.items.append(item)
        try:
            yield item["id"]
        finally:
            item["end"] = time.perf_counter() - self._t0


class Py4jCounter:
    """Counts the py4j commands one thread sends to the JVM inside
    ``count()``, by wrapping the gateway client's ``send_command``.
    Calls from other threads (listener callbacks) are not counted."""

    def __init__(self, gateway_client):
        self.calls = 0
        self._thread = None
        send = gateway_client.send_command

        def counted_send(*args, **kwargs):
            if threading.get_ident() == self._thread:
                self.calls += 1
            return send(*args, **kwargs)

        gateway_client.send_command = counted_send

    @contextmanager
    def count(self):
        self.calls, self._thread = 0, threading.get_ident()
        try:
            yield
        finally:
            self._thread = None


class StreamProgress(StreamingQueryListener):
    """Collects micro-batch progress events until ``take()``.  The
    benchmark runs one query at a time and takes the events after each
    query's listener bus has drained, so every event belongs to the
    query whose ``fn`` was running.  Micro-batches run on the stream
    thread, which does not inherit the caller's job group, so the
    listener is the only place their facts can be read from."""

    def __init__(self):
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = p.stateOperators or []
        with self._lock:
            self._events.append({
                "duration_ms": dict(p.durationMs or {}),
                "state_rows": sum(op.numRowsTotal for op in ops),
                "state_commit_ms": sum(op.commitTimeMs for op in ops),
            })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        with self._lock:
            events, self._events = self._events, []
        return events


def stream_facts(events: list[dict]) -> dict:
    def ms(key):
        return sum(e["duration_ms"].get(key, 0) for e in events) / 1000

    return {
        "stream.batches": len(events),
        "stream.trigger_s": ms("triggerExecution"),
        "stream.add_batch_s": ms("addBatch"),
        "stream.plan_s": ms("queryPlanning"),
        "stream.log_s": ms("walCommit") + ms("commitOffsets"),
        "stream.state_commit_s":
            sum(e["state_commit_ms"] for e in events) / 1000,
        "stream.state_rows": max((e["state_rows"] for e in events), default=0),
    }


def stage_facts(sc, job_ids) -> dict:
    """Sum the last attempt of every stage of ``job_ids`` from the
    status store.  Skipped stages (map output already present) are
    counted apart from the stages that ran."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    facts = {"stages_run": 0, "stages_skipped": 0, "tasks": 0, "task_s": 0.0,
             "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
             "shuffle_read_mb": 0.0, "spill_mb": 0.0}
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            facts["stages_skipped"] += 1
            continue
        facts["stages_run"] += 1
        facts["tasks"] += sd.numTasks()
        facts["task_s"] += sd.executorRunTime() / 1e3
        facts["cpu_s"] += sd.executorCpuTime() / 1e9
        facts["gc_s"] += sd.jvmGcTime() / 1e3
        facts["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        facts["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
        facts["spill_mb"] += sd.diskBytesSpilled() / 1e6
    return facts


_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s+)?([A-Za-z]\w*)")
_EXCHANGES = {"Exchange", "BroadcastExchange"}


def plan_nodes(plan_text: str) -> list[str]:
    """Operator names of a physical plan's tree string, one per line.
    For a finished adaptive plan only the final plan section counts."""
    final = plan_text.split("== Final Plan ==", 1)
    if len(final) == 2:
        plan_text = final[1].split("== Initial Plan ==", 1)[0]
    return [m.group(1) for line in plan_text.splitlines()
            if (m := _NODE.match(line))]


def count_exchanges(nodes: list[str]) -> int:
    return sum(n in _EXCHANGES for n in nodes)
