"""Per-layer tracing for traced runs: spans at each layer boundary, Spark job
attribution by job group, and a streaming progress listener.

Spans are recorded from outside the package, around its public calls:

    op        one workload operation (a query, or one ``run_pipeline`` call)
    catalog   ``catalog.load_table`` (patched in every module that imported it)
    build     ``registry.QUERIES[name](spark, sf_dir)``
    plan      forcing ``queryExecution().executedPlan()`` of the sink frame
    execute   the sink action, and a pipeline op's own actions
    sources   ``DataFrameWriter.parquet/csv``, ``staged_overwrite``,
              ``export_as_txt``

While a span is open its layer names the Spark job group, so every job lands
in exactly one layer; a span's self time is its duration minus its
children's. The time the tracer spends on its own records inside an op is
summed as the tracing overhead.
"""

from __future__ import annotations

import contextlib
import os
import re
import sys
import time

from pyspark.sql.readwriter import DataFrameWriter
from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "databricks_spark_sql_challenge1_spark"
LAYERS = ("op", "catalog", "build", "plan", "execute", "sources")
STAGE_FIELDS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
MB = 1024.0 * 1024.0

# Final-plan lines whose node is an exchange (shuffle, broadcast or reused).
_EXCHANGE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?\w*Exchange\b", re.M)


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the time its direct children cover.

    ``parent`` is an index into ``spans``. Children of one parent run one
    after another (one client thread), so their durations add up without
    overlap."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [s["end"] - s["start"] - c for s, c in zip(spans, child)]


def count_exchanges(plan_text: str) -> int:
    """Exchange nodes in the final adaptive plan (AQE prints the initial
    plan after it; that part is skipped)."""
    final = plan_text.split("== Initial Plan ==")[0]
    return len(_EXCHANGE.findall(final))


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under a file or directory."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(root, f))
            nfiles += 1
    return nbytes, nfiles


class _Progress(StreamingQueryListener):
    """Per streaming query: batches, trigger time and input rows summed over
    its progress events, and the state size of its last progress."""

    def __init__(self):
        self.queries: dict[str, dict] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        prev = self.queries.get(str(p.id), {"batches": 0, "batch_s": 0.0, "input_rows": 0})
        self.queries[str(p.id)] = {
            "batches": prev["batches"] + 1,
            "batch_s": prev["batch_s"] + p.durationMs.get("triggerExecution", 0) / 1e3,
            "input_rows": prev["input_rows"] + p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_mb": sum(s.memoryUsedBytes for s in p.stateOperators) / MB,
        }

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Spans and counters of one traced run. ``install`` patches the
    package's public entry points; ``uninstall`` restores them."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id = 0
        self.counters: dict[str, float] = {}
        self.overhead_s = 0.0
        self.writes: list[tuple[int, int]] = []
        self.marks: list[tuple[str, float]] = []
        self.listener = _Progress()
        self._patches: list[tuple[object, str, object]] = []

    # --- spans and counters ------------------------------------------------
    @contextlib.contextmanager
    def bookkeeping(self):
        """Time the tracer spends on its own records inside an op: the
        tracing overhead of the op's latency."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        with self.bookkeeping():
            idx = len(self.spans)
            self.spans.append({"name": name, "layer": layer, "op": self.op_id,
                               "parent": self.stack[-1] if self.stack else None,
                               "start": time.perf_counter(), "end": None})
            self.stack.append(idx)
            self._group(layer)
        try:
            yield
        finally:
            with self.bookkeeping():
                self.spans[idx]["end"] = time.perf_counter()
                self.stack.pop()
                if self.stack:
                    self._group(self.spans[self.stack[-1]]["layer"])

    def _group(self, layer: str) -> None:
        self.sc.setJobGroup(f"pb{self.op_id}:{layer}", f"perfbench {layer}")

    def begin_op(self) -> None:
        self.op_id += 1
        self.counters = {}
        self.overhead_s = 0.0
        self.writes = []
        self.marks = []
        self.listener.queries = {}

    def mark(self, stage: str) -> None:
        """First entry into a pipeline stage; stages run in a fixed order."""
        if stage not in (m[0] for m in self.marks):
            self.marks.append((stage, time.perf_counter()))

    def bump(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value

    # --- patches -----------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        if isinstance(owner, dict):
            self._patches.append((owner, attr, owner[attr]))
            owner[attr] = wrapper
        else:
            self._patches.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, wrapper)

    def install(self) -> None:
        from databricks_spark_sql_challenge1_spark import catalog, pipeline
        from databricks_spark_sql_challenge1_spark.registry import QUERIES

        tracer = self
        load_table = catalog.load_table

        def traced_load(*args, **kwargs):
            tracer.bump("load_calls", 1)
            with tracer.span("load_table", "catalog"):
                return load_table(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith(PACKAGE)
                    and getattr(mod, "load_table", None) is load_table):
                self._patch(mod, "load_table", traced_load)

        # Inside run_pipeline (which marks "ingest" first), the first query
        # of each stage marks the stage's start.
        marks = {"count_distinct_orders": "sanity",
                 pipeline.ANALYTICS_QUERIES[0]: "analytics",
                 "abandonment_by_month": "marts",
                 "order_export_denorm": "export"}

        def traced_query(fn, name):
            def call(spark, sf_dir):
                if name in marks and tracer.marks:
                    tracer.mark(marks[name])
                with tracer.span(name, "build"):
                    return fn(spark, sf_dir)
            return call

        for name, fn in list(QUERIES.items()):
            self._patch(QUERIES, name, traced_query(fn, name))

        def traced_write(method):
            original = getattr(DataFrameWriter, method)

            def call(writer, path, *args, **kwargs):
                with tracer.span(f"write.{method}", "sources"):
                    original(writer, path, *args, **kwargs)
                with tracer.bookkeeping():
                    tracer.writes.append(dir_stats(path))
            return call

        for method in ("parquet", "csv"):
            self._patch(DataFrameWriter, method, traced_write(method))

        staged_overwrite, export_as_txt = pipeline.staged_overwrite, pipeline.export_as_txt

        def traced_overwrite(*args, **kwargs):
            tracer.mark("clean")
            with tracer.span("staged_overwrite", "sources"):
                return staged_overwrite(*args, **kwargs)

        def traced_export(*args, **kwargs):
            with tracer.span("export_as_txt", "sources"):
                path = export_as_txt(*args, **kwargs)
            with tracer.bookkeeping():
                tracer.writes.append(dir_stats(path))
            return path

        self._patch(pipeline, "staged_overwrite", traced_overwrite)
        self._patch(pipeline, "export_as_txt", traced_export)
        self.spark.streams.addListener(self.listener)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            if isinstance(owner, dict):
                owner[attr] = original
            else:
                setattr(owner, attr, original)
        self._patches = []
        self.spark.streams.removeListener(self.listener)
        self.sc.setJobGroup("", "")

    # --- per-op numbers ----------------------------------------------------
    def storage_mb(self) -> float:
        """Storage held by persisted and checkpointed RDDs."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def stage_metrics(self, layer: str) -> dict[str, float]:
        """Job, stage and task totals of the current op's jobs in ``layer``;
        skipped stages did no work and are left out."""
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        seen = set()
        for job in tracker.getJobIdsForGroup(f"pb{self.op_id}:{layer}"):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        return out

    def op_numbers(self, op_end: float) -> dict[str, float]:
        """Additive per-layer numbers of the op that just ended (``marks``
        hold the pipeline stage starts, ``op_end`` closes the last one)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        own = dict.fromkeys(LAYERS, 0.0)
        for s, t in zip(self.spans, self_times(self.spans)):
            if s["op"] == self.op_id:
                own[s["layer"]] += t
        m = {
            "catalog.load_calls": self.counters.get("load_calls", 0),
            "catalog.load_s": own["catalog"],
            "operators.build_s": own["build"],
            "plans.plan_s": own["plan"],
            "plans.exchanges": self.counters.get("exchanges", 0),
            "execute.s": own["execute"],
            "sources.write_s": own["sources"],
            "sources.bytes_written_mb": sum(b for b, _ in self.writes) / MB,
            "sources.files_written": sum(f for _, f in self.writes),
            "trace.overhead_s": self.overhead_s,
        }
        m["catalog.load_jobs"] = self.stage_metrics("catalog")["jobs"]
        build = self.stage_metrics("build")
        for k in ("jobs", "stages", "tasks"):
            m[f"operators.build_{k}"] = build[k]
        for k, v in self.stage_metrics("execute").items():
            m[f"execute.{k}"] = v
        ends = [t for _, t in self.marks[1:]] + [op_end]
        for (stage, start), end in zip(self.marks, ends):
            m[f"pipeline.{stage}_s"] = end - start
        for q in self.listener.queries.values():
            for k, v in q.items():
                m[f"streaming.{k}"] = m.get(f"streaming.{k}", 0) + v
        return m
