"""Spans and counters recorded around the benchmark's calls into the program.

With tracing off every hook is a no-op, so the end-to-end run pays
nothing.  With tracing on:

* public functions of the program's modules are wrapped (``patch``) so
  each call records a span (name, start, end, parent, op id).  A call
  that returns a DataFrame is lazy: its span covers driver-side planning
  and any eager sub-jobs, and the workload times the action that follows
  as a separate ``*.exec`` span;
* each timed operation runs under its own Spark job group, and its jobs,
  tasks, failed tasks, JVM GC time and process-tree CPU time are read
  when it ends.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import statistics
import sys
import time
from contextlib import contextmanager

from proc import tree_cpu_s

# (module, function) -> span name.  Functions imported by name into other
# modules are replaced there too, so calls made inside the program are
# timed as well as calls made by the benchmark.
WRAPPED = {
    ("anomaly_detection_spark.data.transcripts", "assign_docids"): "data.docids",
    ("anomaly_detection_spark.index.builder", "build_index"): "index.build",
    ("anomaly_detection_spark.index.builder", "append_index"): "index.append",
    ("anomaly_detection_spark.index.merger", "merge_segments"): "index.merge",
    ("anomaly_detection_spark.query.index_search", "bm25_topk_indexed"):
        "index_search.plan",
    ("anomaly_detection_spark.query.index_search", "fetch_docs"):
        "index_search.fetch",
    ("anomaly_detection_spark.query.planner", "plan_query"): "planner.compile",
    ("anomaly_detection_spark.query.planner", "search"): "planner.search",
    ("anomaly_detection_spark.query.aggs_body", "run_aggs"): "aggs.plan",
    ("anomaly_detection_spark.sources.tables", "load_table"):
        "sources.load_table",
    ("anomaly_detection_spark.features.pipeline", "feature_matrix"):
        "features.feature_matrix",
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.phase = "setup"
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: dict | None = None
        self._t0 = time.perf_counter()

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.perf_counter() - self._t0,
               "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self._op["id"] if self._op else None,
               "phase": self.phase}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def patch(self) -> None:
        """Wrap every function in ``WRAPPED`` wherever it is referenced."""
        if not self.enabled:
            return
        import importlib

        swaps = {}
        for (mod_name, fn_name), span_name in WRAPPED.items():
            fn = getattr(importlib.import_module(mod_name), fn_name)
            swaps[id(fn)] = self._wrap(fn, span_name)
        for mod in list(sys.modules.values()):
            names = getattr(mod, "__dict__", {})
            for attr, val in list(names.items()):
                if callable(val) and id(val) in swaps:
                    setattr(mod, attr, swaps[id(val)])

    def _wrap(self, fn, span_name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)
        return traced

    # -- operations ----------------------------------------------------------

    @contextmanager
    def op(self, kind: str):
        """One client operation; counters are read only when tracing."""
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        rec = {"id": len(self.ops), "kind": kind, "phase": self.phase,
               "counts": {}}
        group = f"perfbench-op-{rec['id']}"
        ungrouped = set(st.getJobIdsForGroup(None))
        gc0, cpu0 = self._gc_ms(), tree_cpu_s()
        sc.setJobGroup(group, kind)
        self._op = rec
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{kind}"):
                yield rec["counts"]
        finally:
            rec["wall_ms"] = (time.perf_counter() - t0) * 1e3
            self._op = None
            self._drain_listener()
            # jobs from threads the program starts carry no group: count
            # the ungrouped jobs that appeared during the operation
            jobs = set(st.getJobIdsForGroup(group)) | (
                set(st.getJobIdsForGroup(None)) - ungrouped)
            stages = set()
            for jid in jobs:
                info = st.getJobInfo(jid)
                stages.update(info.stageIds if info else ())
            tasks = failed = 0
            for sid in stages:
                stage = st.getStageInfo(sid)
                if stage:
                    tasks += stage.numCompletedTasks + stage.numFailedTasks
                    failed += stage.numFailedTasks
            rec.update(jobs=len(jobs), tasks=tasks, failed_tasks=failed,
                       gc_ms=self._gc_ms() - gc0,
                       cpu_ms=(tree_cpu_s() - cpu0) * 1e3)
            sc.setJobGroup("perfbench-idle", "between operations")
            self.ops.append(rec)

    def _gc_ms(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def _drain_listener(self) -> None:
        # job/task end events reach the status store asynchronously
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    # -- results -------------------------------------------------------------

    def durations_ms(self, name: str, phase: str = "timed") -> list[float]:
        """Durations of ``name`` spans in ``phase``, outermost only (a
        recursive call is part of its caller's span)."""
        out = []
        for s in self.spans:
            if s["name"] != name or s["phase"] != phase:
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if p is None:
                out.append((s["end"] - s["start"]) * 1e3)
        return out

    def timed_ops(self, kinds: tuple[str, ...] | None = None) -> list[dict]:
        return [o for o in self.ops if o["phase"] == "timed"
                and (kinds is None or o["kind"] in kinds)]

    def op_counts(self, key: str) -> list[float]:
        return [o["counts"][key] for o in self.timed_ops()
                if key in o["counts"]]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)


def median0(values: list[float]) -> float:
    """Median, or 0 when the layer did no work on this workload."""
    return float(statistics.median(values)) if values else 0.0
