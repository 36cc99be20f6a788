"""Per-layer tracing measured from outside the engine.

``Tracer.span(layer, name)`` wraps one call into a layer: it sets the
Spark job group ``<layer>:<name>``, times the call, and afterwards reads
the jobs, stages and task totals the call produced from Spark's own
status store (``sparkContext._jsc.sc().statusStore()``, live with the UI
disabled).  The client runs one call at a time, so the jobs a call
produced are exactly the jobs with ids above the last id seen — that
also catches streaming micro-batch jobs, which run under the stream's
own job group.  With nested spans a job counts for the innermost open
span.  Spans (name, start, end, parent, run id) stay in memory and are
returned when the run ends.

``StreamCounts`` is a ``StreamingQueryListener`` that counts, inside
traced spans, micro-batches, input rows and the state rows each query
holds at its last progress.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# Counters kept per layer; the stage totals they come from.
LAYER_COUNTERS = ("busy_s", "jobs", "tasks", "cpu_s", "wait_s", "shuffle_bytes", "spill_bytes", "gc_s")


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool = True, listener=None):
        self.enabled = enabled
        self.listener = listener
        self.run_id = run_id
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self.layers: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.totals: dict[str, float] = defaultdict(float)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seen_stages: set[int] = set()
        self._last_job = self._max_job_id() if enabled else -1

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        self.drain()
        jobs = self._jsc.statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _collect(self) -> dict[str, float]:
        """Totals over the jobs started since the last collection."""
        store = self._jsc.statusStore()
        top = self._max_job_id()
        out = defaultdict(float)
        for job_id in range(self._last_job + 1, top + 1):
            job = store.job(job_id)
            out["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self._seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never submitted
                    continue
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                self._seen_stages.add(sid)
                run_s = st.executorRunTime() / 1e3
                cpu_s = st.executorCpuTime() / 1e9
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["cpu_s"] += cpu_s
                out["wait_s"] += max(0.0, run_s - cpu_s)
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                out["input_records"] += st.inputRecords()
        self._last_job = top
        return out

    def _attribute(self, idx: int, got: dict[str, float]) -> None:
        span = self.spans[idx]
        for k, v in got.items():
            span[k] = span.get(k, 0.0) + v
            self.totals[k] += v
        acc = self.layers[span["layer"]]
        for k in LAYER_COUNTERS[1:]:
            acc[k] += got.get(k, 0.0)

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        outer = self._stack[-1] if self._stack else None
        pending = self._collect()  # jobs before the call belong to the enclosing span
        if outer is not None:
            self._attribute(outer, pending)
        idx = len(self.spans)
        self.spans.append({"layer": layer, "name": name, "run_id": self.run_id,
                           "parent": None if outer is None else self.spans[outer]["name"]})
        self._stack.append(idx)
        if self.listener is not None:
            self.listener.active = True
        self._sc.setJobGroup(f"{layer}:{name}", name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._attribute(idx, self._collect())
            self._stack.pop()
            if outer is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(f"{self.spans[outer]['layer']}:{self.spans[outer]['name']}", self.spans[outer]["name"])
            if self.listener is not None:
                self.listener.active = bool(self._stack)
            self.spans[idx].update(start=t0, end=t1)
            # a layer's busy time counts its outermost spans only
            if all(self.spans[i]["layer"] != layer for i in self._stack):
                self.layers[layer]["busy_s"] += t1 - t0


class StreamCounts(StreamingQueryListener):
    """Counts progress events while ``active`` (inside a traced span)."""

    def __init__(self):
        self.active = False
        self.batches = 0
        self.input_rows = 0
        self._state: dict[str, int] = {}

    @property
    def state_rows(self) -> int:
        return sum(self._state.values())

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        if not self.active:
            return
        p = event.progress
        self.batches += 1
        self.input_rows += p.numInputRows
        self._state[str(p.runId)] = sum(s.numRowsTotal for s in p.stateOperators)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
