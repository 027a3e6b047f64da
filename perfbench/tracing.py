"""Spans and Spark-side counters recorded from outside the engine.

``Tracer`` keeps spans in memory (name, start, end, parent, op id) and
turns them into per-layer self times at the end of a run. ``SparkProbe``
ties Spark's own accounting to one benchmark operation: it sets a job
group per operation, a second group while rows are collected, and after
the operation reads job, stage and task metrics from the status store
and the Python-UDF SQL metrics from the executed plan.

Nothing here runs in an untraced run except the ``enabled`` checks.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

# Span name -> layer whose self time it counts towards.
LAYER_OF = {
    "op": "bench",
    "registry.build": "builder",
    "catalyst.plan": "plan",
    "exec": "exec",
    "transfer": "transfer",
    "metrics_logger.flush": "writer",
    "versioned_table.read": "reader",
}
for _fmt in ("delta", "iceberg"):
    for _verb in ("create", "append", "compact"):
        LAYER_OF[f"{_fmt}.{_verb}"] = "writer"
    for _verb in ("merge", "delete"):
        LAYER_OF[f"{_fmt}.{_verb}"] = "dml"
    for _verb in ("read", "time_travel", "replay"):
        LAYER_OF[f"{_fmt}.{_verb}"] = "reader"
for _fmt in ("delta", "delta_cp", "delta_cpv2", "iceberg"):
    LAYER_OF[f"{_fmt}.plan_full"] = "planner"
    LAYER_OF[f"{_fmt}.plan_pruned"] = "planner"
LAYER_OF["iceberg.pstats"] = "planner"
LAYERS = ("bench", "builder", "plan", "exec", "transfer", "writer", "dml",
          "reader", "planner")


class Tracer:
    """In-memory span recorder; a no-op when ``enabled`` is false."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "op": self.op_id, "parent": parent,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer: each span's duration minus the
        part its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = dict.fromkeys(LAYERS, 0.0)
        for i, s in enumerate(self.spans):
            out[LAYER_OF.get(s["name"], "bench")] += s["end"] - s["start"] - child[i]
        return out

    def span_seconds(self, name: str) -> float:
        return float(sum(s["end"] - s["start"] for s in self.spans if s["name"] == name))

    def dump(self, path: str, stamp: dict) -> None:
        with open(path, "w") as fh:
            fh.write(json.dumps({"stamp": stamp}) + "\n")
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s}) + "\n")


_PY_METRICS = {
    "pythonDataSent": "python.bytes_sent",
    "pythonDataReceived": "python.bytes_received",
    "pythonNumRowsReceived": "python.rows_received",
}


class SparkProbe:
    """Per-operation Spark accounting through the status store."""

    def __init__(self, spark, tracer: Tracer, counters: dict):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.counters = counters
        self._jsc = self.sc._jsc.sc()
        self._group: str | None = None
        self._installed = None

    # -- job groups ---------------------------------------------------
    def begin(self, op_id: str) -> None:
        self._group = op_id
        self.sc.setJobGroup(op_id, op_id)

    def group_jobs(self, suffix: str = "") -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(self._group + suffix))

    def end(self) -> None:
        """Fold the finished operation's collect jobs into the counters."""
        self.sc._jsc.clearJobGroup()
        self._jsc.listenerBus().waitUntilEmpty()
        self._stage_metrics(self.group_jobs("/exec"))
        self._group = None

    def _stage_metrics(self, jobs: list[int]) -> None:
        c = self.counters
        c["exec.jobs"] += len(jobs)
        store = self._jsc.statusStore()
        seen = set()
        for job in jobs:
            info = self.sc.statusTracker().getJobInfo(job)
            for stage in info.stageIds if info else ():
                if stage in seen:
                    continue
                seen.add(stage)
                sd = store.lastStageAttempt(stage)
                if sd.status().toString() == "SKIPPED":
                    continue
                c["exec.stages"] += 1
                c["exec.tasks"] += sd.numCompleteTasks()
                c["exec.task_busy_s"] += sd.executorRunTime() / 1000.0
                c["exec.gc_s"] += sd.jvmGcTime() / 1000.0
                c["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    # -- executed plan ------------------------------------------------
    def plan(self, df) -> None:
        with self.tracer.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()

    def python_metrics(self, df) -> None:
        self._walk(df._jdf.queryExecution().executedPlan())

    def _walk(self, node) -> None:
        name = node.getClass().getSimpleName()
        metrics = node.metrics()
        for key, counter in _PY_METRICS.items():
            if metrics.contains(key):
                self.counters[counter] += metrics.apply(key).value()
        if name == "AdaptiveSparkPlanExec":
            self._walk(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            self._walk(node.plan())
            return
        children = node.children().iterator()
        while children.hasNext():
            self._walk(children.next())

    # -- collect ------------------------------------------------------
    def install(self) -> None:
        """Wrap ``DataFrame._collect_as_arrow`` (the step of ``toPandas``
        that runs the query and streams Arrow batches back) in an
        ``exec`` span under its own job group, and record the rows and
        Arrow bytes it returns. The enclosing ``transfer`` span's self
        time is then the Arrow-to-pandas conversion."""
        from pyspark.sql.pandas.conversion import PandasConversionMixin

        probe = self
        original = PandasConversionMixin._collect_as_arrow

        def collect(df_self, *args, **kwargs):
            if not probe.tracer.enabled:
                return original(df_self, *args, **kwargs)
            group = probe._group
            if group is not None:
                probe.sc.setJobGroup(group + "/exec", group)
            try:
                with probe.tracer.span("exec"):
                    batches = original(df_self, *args, **kwargs)
            finally:
                if group is not None:
                    probe.sc.setJobGroup(group, group)
            probe.counters["transfer.rows"] += sum(b.num_rows for b in batches)
            probe.counters["transfer.bytes"] += sum(b.nbytes for b in batches)
            return batches

        PandasConversionMixin._collect_as_arrow = collect
        self._installed = original

    def uninstall(self) -> None:
        if self._installed is not None:
            from pyspark.sql.pandas.conversion import PandasConversionMixin

            PandasConversionMixin._collect_as_arrow = self._installed
            self._installed = None
