"""Traced-run support: spans around calls into the program's layers.

A layer is a module of the program (``operators.knn``,
``annotate.embedder``, ...). In a traced pass every call into a layer
runs under its own Spark job group, and a DataFrame it returns is
persisted and counted before the next layer starts (a forced stage
boundary), so the Spark work of the call lands in that layer's span
instead of in whichever later action happens to pull it. Counters
come from the driver's status store (per job group) and from the SQL
metrics of the Python exec nodes of the materialized plan.

Spans live in memory and are written out once, when the run ends.
With tracing off, :meth:`Tracer.call` is a plain call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _python_metrics(jplan) -> tuple[float, int]:
    """(pythonTotalTime seconds, rows received from Python) summed over
    the Python exec nodes of one physical plan. Cached relations of
    upstream layers are leaves: their work belongs to those layers."""
    secs, rows = 0.0, 0
    stack = [jplan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name in ("InMemoryTableScanExec", "ReusedExchangeExec"):
            continue
        metrics = node.metrics()
        if metrics.contains("pythonTotalTime"):
            secs += metrics.apply("pythonTotalTime").value() / 1000.0
            rows += metrics.apply("pythonNumRowsReceived").value()
        stack.extend(_seq(node.children()))
    return secs, rows


class Tracer:
    """Records one span per layer call of a traced pass."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._cached: list[DataFrame] = []
        self.pass_no = 0

    # ------------------------------------------------------------ spans

    def _open(self, layer: str) -> dict:
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans),
            "name": layer,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "pass": self.pass_no,
            "group": f"{self.run_id}/{len(self.spans)}",
        }
        self.spans.append(span)
        self._stack.append(span)
        self.spark.sparkContext.setJobGroup(span["group"], layer)
        span["start"] = time.perf_counter()
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()
        sc = self.spark.sparkContext
        if self._stack:
            sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, layer: str):
        """A span around a block (e.g. the action that ends a pass)."""
        if not self.enabled:
            yield
            return
        span = self._open(layer)
        try:
            yield
        finally:
            self._close(span)

    def call(self, layer: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside a span of ``layer``; a returned
        DataFrame is materialized before the span closes."""
        if not self.enabled:
            return fn(*args, **kwargs)
        span = self._open(layer)
        try:
            out = fn(*args, **kwargs)
            span["build_end"] = time.perf_counter()
            if isinstance(out, DataFrame):
                if layer == "sources":
                    span["files_read"] = len(out.inputFiles())
                out = out.persist()
                out.count()
                self._cached.append(out)
                cached = (self.spark._jsparkSession.sharedState().cacheManager()
                          .lookupCachedData(out._jdf).get())
                span["python"] = _python_metrics(
                    cached.cachedRepresentation().cachedPlan()
                )
        finally:
            self._close(span)
        return out

    def wrap(self, layer: str, fn):
        def traced(*args, **kwargs):
            return self.call(layer, fn, *args, **kwargs)

        return traced

    def release(self) -> None:
        """Drop the boundary caches of the finished pass."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # ---------------------------------------------------------- counters

    def collect_counters(self, cores: int) -> None:
        """Attach Spark counters to every span of the current pass that
        has none yet. Waits for the listener bus first, so the status
        store has seen every finished stage."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = sc._gateway
        no_tasks = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        tracker = sc.statusTracker()
        for span in self.spans:
            if "jobs" in span:
                continue
            c = dict(jobs=0, run_s=0.0, cpu_s=0.0, input_bytes=0,
                     shuffle_write_bytes=0, result_bytes=0, failed_tasks=0)
            for jid in tracker.getJobIdsForGroup(span["group"]):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    for st in _seq(store.stageData(sid, False, no_tasks, False,
                                                   no_quantiles)):
                        c["run_s"] += st.executorRunTime() / 1000.0
                        c["cpu_s"] += st.executorCpuTime() / 1e9
                        c["input_bytes"] += st.inputBytes()
                        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                        c["result_bytes"] += st.resultSize()
                        c["failed_tasks"] += st.numFailedTasks()
            span.update(c)
            dur = span["end"] - span["start"]
            span["idle_core_s"] = max(0.0, dur * cores - c["run_s"])

    def self_time(self, span: dict) -> float:
        children = [s for s in self.spans if s["parent"] == span["id"]]
        return (span["end"] - span["start"]) - sum(
            s["end"] - s["start"] for s in children
        )

    def write(self, path: str) -> None:
        keep = [{k: v for k, v in s.items() if k != "group"} for s in self.spans]
        with open(path, "w") as fh:
            json.dump(keep, fh)
