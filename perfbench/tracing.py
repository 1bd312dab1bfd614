"""Tracing for the benchmark runner: job attribution, stage metrics,
operator self time, persisted-index lookups and streaming progress.

Everything here observes from outside the package. Jobs are attributed
through job groups: the op's own group on the driver thread, and the
query ``runId`` that Structured Streaming sets as the group of every
micro-batch job. Stage metrics come from the in-process status store,
which is populated with ``spark.ui.enabled=false`` too. Operator
functions are replaced by timing wrappers that pickle as the original
function, so a closure shipped to a Python worker never carries one.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

#: Operator modules whose public functions get self-time wrappers.
OPERATOR_MODULES = (
    "rank",
    "similarity",
    "dedup_similarity",
    "corpus",
    "finance",
    "extension",
)

#: Stage-level counters summed over the stages that ran (not skipped).
STAGE_FIELDS = (
    "tasks",
    "failed_tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def next_job_id(spark) -> int:
    """The id the scheduler gives the next job: a job count that costs one
    call and needs no listener."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def drain_listener_bus(spark) -> None:
    """Wait until every posted event reached the status store and the
    streaming listeners."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class StreamProgress(StreamingQueryListener):
    """Collects each query start and each micro-batch's ``durationMs`` and
    ``stateOperators``, keyed by the query's ``runId``."""

    def __init__(self) -> None:
        self.started: list[str] = []
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators
        self.batches.append(
            {
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state_commit_ms": sum(s.commitTimeMs for s in ops),
                "state_rows": sum(s.numRowsTotal for s in ops),
                "state_memory_bytes": sum(s.memoryUsedBytes for s in ops),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class _Timed:
    """Self-time wrapper around one operator function."""

    def __init__(self, tracer: "Tracer", fn, module: str) -> None:
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._tracer = tracer
        self._module = module

    def __call__(self, *args, **kwargs):
        if self._tracer.op_id is None:
            return self._fn(*args, **kwargs)
        return self._tracer.timed(self._module, self._fn, args, kwargs)

    def __reduce__(self):
        return (getattr, (importlib.import_module(self._fn.__module__), self._fn.__name__))


class Tracer:
    """Per-op trace state, recording only between ``begin`` and ``end``.
    Spans stay in memory until ``write``."""

    def __init__(self, spark, entry_module, package: str) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.entry = entry_module
        self.package = package
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._local = threading.local()
        self._next_span = 0
        self._lock = threading.Lock()
        self.operator_self: dict[str, float] = defaultdict(float)
        self.operator_calls: dict[str, int] = defaultdict(int)
        self.index_lookups: set[str] = set()

    # -- wrappers --------------------------------------------------------
    def install(self) -> None:
        """Wrap the operator modules' public functions and the entry
        module's persisted-index locators, in every loaded module of the
        package and in the entry module."""
        originals: dict[int, object] = {}
        for short in OPERATOR_MODULES:
            mod = importlib.import_module(f"{self.package}.operators.{short}")
            for name, fn in inspect.getmembers(mod, inspect.isfunction):
                if not name.startswith("_") and fn.__module__ == mod.__name__:
                    originals[id(fn)] = _Timed(self, fn, short)
        targets = [
            m
            for n, m in sys.modules.items()
            if m is not None and (n == self.package or n.startswith(self.package + "."))
        ] + [self.entry]
        for mod in targets:
            for name, value in list(vars(mod).items()):
                wrapper = originals.get(id(value))
                if wrapper is not None and wrapper._fn is value:
                    setattr(mod, name, wrapper)
        for name in ("_ann_index_dir", "_dup_index_dir"):
            setattr(self.entry, name, self._index_locator(getattr(self.entry, name)))

    def _index_locator(self, fn):
        @functools.wraps(fn)
        def locate(*args, **kwargs):
            path = fn(*args, **kwargs)
            if self.op_id is not None:
                self.index_lookups.add(path)
            return path

        return locate

    def timed(self, module: str, fn, args, kwargs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            span_id = self._next_span
            self._next_span += 1
        parent = stack[-1][0] if stack else None
        stack.append([span_id, 0.0])
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            _, child = stack.pop()
            if stack:
                stack[-1][1] += end - start
            self_s = end - start - child
            with self._lock:
                self.operator_self[module] += self_s
                self.operator_calls[module] += 1
                self.spans.append(
                    {
                        "op": self.op_id,
                        "span": span_id,
                        "parent": parent,
                        "layer": f"operators.{module}",
                        "name": fn.__name__,
                        "start": start,
                        "end": end,
                        "self_s": self_s,
                    }
                )

    # -- per op ----------------------------------------------------------
    def begin(self, op_id: str, label: str) -> None:
        self.op_id = op_id
        self.operator_self.clear()
        self.operator_calls.clear()
        self.index_lookups.clear()
        self.sc.setJobGroup(op_id, label)

    def end(self) -> None:
        self.op_id = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def span(self, op_id: str, layer: str, name: str, start: float, end: float, **extra) -> None:
        self.spans.append(
            {"op": op_id, "layer": layer, "name": name, "start": start, "end": end, **extra}
        )

    def group_jobs(self, groups) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})

    def stage_metrics(self, job_ids) -> dict:
        """Sum stage metrics over ``job_ids``; skipped stages are counted
        apart and add nothing else."""
        out = dict.fromkeys(("jobs", "stages", "skipped_stages", "missing"), 0)
        out.update(dict.fromkeys(STAGE_FIELDS, 0.0))
        seen: set[int] = set()
        for jid in job_ids:
            out["jobs"] += 1
            try:
                ids = str(self.store.job(jid).stageIds().mkString(","))
            except Exception:  # noqa: BLE001 - evicted from the status store
                out["missing"] += 1
                continue
            for sid in (int(s) for s in ids.split(",") if s):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - evicted from the status store
                    out["missing"] += 1
                    continue
                if st.status().toString() == "SKIPPED":
                    out["skipped_stages"] += 1
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["run_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
        out["offcpu_s"] = out["run_s"] - out["cpu_s"]
        return out

    def write(self, path: str, header: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(json.dumps({"context": header}) + "\n")
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
