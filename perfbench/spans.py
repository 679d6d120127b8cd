"""Benchmark-side tracing: spans around the program's layer functions.

Nothing here lives in the program. ``Tracer.wrap`` swaps a module
attribute for a wrapper that records a span (name, start, end, parent,
run id) around each call and restores the original on ``close``. A span
opened with ``group=True`` also runs its Spark work under its own job
group, so the jobs, stages and shuffle bytes it caused are read back
from the status tracker and the status store after it ends. py4j round
trips are counted at the py4j client. Spans stay in memory until
``dump`` writes them once, with each layer's self time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time


def _union(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
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


class Tracer:
    """Span recorder for one benchmark process. ``run_id`` tags every
    span of one traced operation."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.run_id = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._py4j = 0
        self._counting = False
        self._groups = 0
        self._root_stack: list[dict] = []

    # -- py4j -------------------------------------------------------
    def count_py4j(self) -> None:
        """Count every command the py4j client sends to the JVM."""
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        @functools.wraps(send)
        def counted(*args, **kwargs):
            if self._counting:
                with self._lock:
                    self._py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self._patches.append((client, "send_command", None))
        self._counting = True

    @contextlib.contextmanager
    def uncounted(self):
        """Suspend py4j counting for the tracer's own JVM queries."""
        before, self._counting = self._counting, False
        try:
            yield
        finally:
            self._counting = before

    # -- spans ------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, parent: dict | None = None):
        """Record one span; yields its attribute dict. Spans opened in a
        worker thread with no open span of their own take ``parent``."""
        stack = self._stack()
        up = stack[-1] if stack else parent
        rec = {"name": name, "run_id": self.run_id, "parent": up["id"] if up else None,
               "id": None, "start": 0.0, "end": 0.0, "attrs": {}}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        gid = None
        sc = self.spark.sparkContext
        if group:
            with self.uncounted():
                self._groups += 1
                gid = f"perfbench-{self.run_id}-{self._groups}"
                prev = sc.getLocalProperty("spark.jobGroup.id")
                sc.setJobGroup(gid, name)
        stack.append(rec)
        p0 = self._py4j
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            rec["attrs"]["py4j_calls"] = self._py4j - p0
            stack.pop()
            if gid is not None:
                with self.uncounted():
                    sc.setLocalProperty("spark.jobGroup.id", prev)
                    rec["attrs"].update(self.spark_work(gid))

    def spark_work(self, group: str) -> dict:
        """Jobs, stages run and shuffle bytes written under ``group``."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = jsc.statusStore()
        none = getattr(store, "stageData$default$3")()
        quantiles = getattr(store, "stageData$default$5")()
        stages = shuffle = 0
        for s in stage_ids:
            try:
                attempts = store.stageData(s, False, none, False, quantiles)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            ran = False
            for i in range(attempts.length()):
                data = attempts.apply(i)
                if data.status().toString() != "SKIPPED":
                    ran = True
                    shuffle += data.shuffleWriteBytes()
            stages += ran
        return {"jobs": len(jobs), "stages": stages, "shuffle_write_bytes": shuffle}

    def wrap(self, module, attr: str, name: str, group: bool = False, after=None,
             from_threads: bool = False) -> None:
        """Replace ``module.attr`` with a span-recording wrapper.
        ``after(result, attrs)`` runs inside the span once the call
        returns and may replace the result (a layer's output is persisted
        and counted there, so that work is charged to the layer that
        produced it). With ``from_threads``, calls made from worker
        threads nest under the innermost span open in the thread that
        opened the root span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            parent = self._outer if from_threads else None
            with self.span(name, group=group, parent=parent) as attrs:
                result = fn(*args, **kwargs)
                if after is not None:
                    result = after(result, attrs)
            return result

        setattr(module, attr, traced)
        self._patches.append((module, attr, fn))

    @property
    def _outer(self) -> dict | None:
        return self._root_stack[-1] if self._root_stack else None

    @contextlib.contextmanager
    def root(self, name: str):
        """Open the root span of one traced operation."""
        self.run_id += 1
        self._root_stack = self._stack()
        with self.span(name) as attrs:
            yield attrs

    def close(self) -> None:
        """Restore every patched attribute."""
        self._counting = False
        for obj, attr, orig in reversed(self._patches):
            if orig is None:
                with contextlib.suppress(AttributeError):
                    delattr(obj, attr)  # drop the instance override
            else:
                setattr(obj, attr, orig)
        self._patches.clear()

    # -- analysis ---------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {s["id"]: (s["end"] - s["start"]) - _union(kids.get(s["id"], []))
                for s in self.spans}

    def of(self, run_id: int, name: str) -> list[dict]:
        return [s for s in self.spans if s["run_id"] == run_id and s["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        """Write every span once, with self time per span and summed
        per layer name."""
        selfs = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0,
                  "self_s": selfs[s["id"]]} for s in self.spans]
        per_layer: dict[str, float] = {}
        for s in spans:
            per_layer[s["name"]] = per_layer.get(s["name"], 0.0) + s["self_s"]
        with open(path, "w") as fh:
            json.dump({"spans": spans, "self_s_by_layer": per_layer, **extra}, fh, indent=1)
            fh.write("\n")
