"""Spans, Spark status-store counters and stream progress for one run.

Spans are recorded from the benchmark's own files: around the calls the
benchmark makes into the program, and, in a traced run, around program
functions whose module attributes are replaced from outside. Each span
has a name, layer, start, end, parent span and op id. Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Span recorder. With ``enabled`` false, only the spans the benchmark
    opens around its own calls are kept; nothing in the program is
    wrapped and no counters are read."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self.bookkeeping_s = 0.0  # time spent reading counters and scanning dirs
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str):
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "layer": layer,
                "parent": self._stack[-1] if self._stack else None,
                "op": self.op,
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            with self._lock:
                self._stack.remove(rec["id"])

    def wrap(self, module, attr: str, name: str, layer: str, after=None) -> None:
        """Replace ``module.attr`` with a function that records a span;
        ``after(*args, **kwargs)``, if given, runs after each call as
        bookkeeping, outside the span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            try:
                with self.span(name, layer):
                    return orig(*args, **kwargs)
            finally:
                if after is not None:
                    with self.bookkeeping():
                        after(*args, **kwargs)

        setattr(module, attr, traced)

    def wrap_everywhere(self, func, name: str, layer: str) -> int:
        """Wrap ``func`` in every loaded module of the package that holds
        it under its own name; returns how many were wrapped."""
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("scylla_pg_cdc_spark") and getattr(
                mod, func.__name__, None
            ) is func:
                self.wrap(mod, func.__name__, name, layer)
                n += 1
        return n

    @contextmanager
    def bookkeeping(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.bookkeeping_s += time.perf_counter() - t0

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict], window: tuple[float, float]) -> dict:
    """Per-layer self time of the spans that start inside ``window``: a
    span's duration minus the part of it its child spans cover. Also the
    part of the window the top-level spans leave uncovered."""
    lo, hi = window
    inside = [s for s in spans if s["end"] is not None and lo <= s["start"] <= hi]
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in inside:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    by_layer: dict[str, float] = {}
    ids = {s["id"] for s in inside}
    top = []
    for s in inside:
        own = (s["end"] - s["start"]) - _union_length(kids.get(s["id"], []))
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + own
        if s["parent"] not in ids:
            top.append((s["start"], s["end"]))
    return {
        "self_s": {k: round(v, 6) for k, v in sorted(by_layer.items())},
        "uncovered_s": round((hi - lo) - _union_length(top), 6),
    }


class SparkCounters:
    """Deltas of Spark's application status store (public through the
    JVM ``AppStatusStore``; it exists with the UI disabled)."""

    FIELDS = (
        "executorRunTime", "executorCpuTime", "jvmGcTime", "memoryBytesSpilled",
        "diskBytesSpilled", "shuffleReadBytes", "shuffleWriteBytes",
        "shuffleFetchWaitTime",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._defaults = [
            getattr(self._store, f"stageList$default${i}")() for i in (2, 3, 4, 5)
        ]

    def _stage_list(self):
        self._bus.waitUntilEmpty()
        st = self._store.stageList(None, *self._defaults)
        return [st.apply(i) for i in range(st.size())]

    def snapshot(self) -> set[tuple[int, int]]:
        return {(s.stageId(), s.attemptId()) for s in self._stage_list()}

    def delta(self, before: set[tuple[int, int]]) -> dict:
        """Totals over the stages that appeared since ``before``."""
        out = dict.fromkeys(self.FIELDS, 0)
        out["stages"] = out["tasks"] = 0
        for s in self._stage_list():
            if (s.stageId(), s.attemptId()) in before or s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
            for f in self.FIELDS:
                out[f] += getattr(s, f)()
        return out

    def jobs_in_group(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))


class ProgressLog(StreamingQueryListener):
    """Every ``StreamingQueryProgress`` the session reports."""

    def __init__(self):
        super().__init__()
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.events.append(
            {
                "run_id": str(p.runId),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "t": time.perf_counter(),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, n: int, timeout_s: float = 15.0) -> None:
        """Progress events arrive asynchronously; wait for ``n`` of them."""
        deadline = time.monotonic() + timeout_s
        while len(self.events) < n and time.monotonic() < deadline:
            time.sleep(0.05)


PHASES = {
    "streaming.getbatch_s": "getBatch",
    "streaming.planning_s": "queryPlanning",
    "streaming.addbatch_s": "addBatch",
    "streaming.walcommit_s": "walCommit",
}


def phase_seconds(events: list[dict]) -> dict[str, float]:
    """Seconds per ``durationMs`` phase, summed over progress events."""
    return {
        name: sum(e["duration_ms"].get(key, 0) for e in events) / 1000
        for name, key in PHASES.items()
    }
