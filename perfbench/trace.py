"""Spans and engine counters for the traced benchmark run.

The benchmark's own code records the spans: ``instrument`` swaps each
named public function of the package for a wrapper that opens a span
around the call, in every loaded package module that holds a reference
to it, and ``restore`` puts the originals back. No package file changes.

A span records its name, its parent, start and end, and the diff of
the engine counters across the call. The counters are read from the
driver JVM with the Spark UI disabled: the status store's per-stage
data for the stages the span started, the DAG scheduler's job and
stage ids, the whole-stage-codegen compile count, and the JVM's
garbage-collector time. Reading them first drains the listener bus, so
a traced call pays that wait, which shows as tracing overhead.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import time
from contextlib import contextmanager

ENGINE_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_busy_s", "gc_s",
    "input_bytes", "shuffle_write_bytes", "codegen_compilations",
)


class EngineCounters:
    """Cumulative engine counters of one SparkSession's driver JVM."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        jvm = spark._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._gcs = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self._stage_totals: dict[int, tuple] = {}

    def _stage(self, sid: int) -> tuple:
        """(tasks, failed, run_ms, input, shuffle_write) of a finished
        stage; zeros for a skipped or evicted one. Finished stages are
        immutable, so each is fetched once."""
        if sid not in self._stage_totals:
            try:
                s = self._sc.statusStore().lastStageAttempt(sid)
                self._stage_totals[sid] = (
                    s.numCompleteTasks(), s.numFailedTasks(), s.executorRunTime(),
                    s.inputBytes(), s.shuffleWriteBytes(),
                )
            except Exception:  # noqa: BLE001 - stage never ran
                self._stage_totals[sid] = (0, 0, 0, 0, 0)
        return self._stage_totals[sid]

    def read(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        dag = self._sc.dagScheduler()
        gc_ms = sum(self._gcs.get(i).getCollectionTime() for i in range(self._gcs.size()))
        return {
            "jobs": dag.nextJobId(),
            "stages": dag.nextStageId(),
            "codegen_compilations": self._codegen.METRIC_COMPILATION_TIME().getCount(),
            "gc_s": gc_ms / 1000.0,
        }

    def diff(self, a: dict, b: dict) -> dict:
        out = {k: b[k] - a[k] for k in ("jobs", "stages", "codegen_compilations", "gc_s")}
        rows = [self._stage(s) for s in range(a["stages"], b["stages"])]
        tasks, failed, run_ms, inp, shuf = (sum(c) for c in zip(*rows)) if rows else (0,) * 5
        out.update(tasks=tasks, failed_tasks=failed, task_busy_s=run_ms / 1000.0,
                   input_bytes=inp, shuffle_write_bytes=shuf)
        return out


class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    def __init__(self, engine: EngineCounters | None):
        self.engine = engine
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._deferred: list[tuple[dict, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        e0 = self.engine.read() if self.engine else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
        }
        self._next_id += 1
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.engine:
                rec["engine"] = self.engine.diff(e0, self.engine.read())
            self.spans.append(rec)

    def defer_count(self, rec: dict, key: str, df) -> None:
        """Count ``df``'s rows into ``rec[key]`` later, outside any span,
        so the counting job is billed to no layer."""
        self._deferred.append((rec, key, df))

    def flush_deferred(self) -> None:
        for rec, key, df in self._deferred:
            rec[key] = df.count()
        self._deferred.clear()


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a Spark output directory."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _after_write(rec: dict, args, kwargs, _result) -> None:
    path = kwargs.get("path", args[1] if len(args) > 1 else None)
    rec["files"], rec["bytes"] = _dir_stats(path) if os.path.isdir(path) else (1, os.path.getsize(path))


# (module, function) -> hook run after the call, outside the span's
# timing, to record the span's work counts
TARGETS = {
    ("nhs_data_pipeline_spark.io.readers", "read_messy_csv"): "rows",
    ("nhs_data_pipeline_spark.pipelines.runner", "run_series"): None,
    ("nhs_data_pipeline_spark.orgchange.closure", "successor_closure"): None,
    ("nhs_data_pipeline_spark.orgchange.closure", "classify_changes"): None,
    ("nhs_data_pipeline_spark.orgchange.adjust", "adjust_org_changes"): None,
    ("nhs_data_pipeline_spark.io.writers", "write_parquet"): _after_write,
    ("nhs_data_pipeline_spark.io.writers", "write_single_csv"): _after_write,
    ("nhs_data_pipeline_spark.llm.dedup", "minhash_lsh_pairs"): "rows",
    ("nhs_data_pipeline_spark.llm.dedup", "jaccard_pairs"): "rows",
}

PACKAGE = "nhs_data_pipeline_spark"


def span_name(module: str, fn: str) -> str:
    """``nhs_data_pipeline_spark.io.readers`` + ``read_messy_csv`` ->
    ``io.readers.read_messy_csv``; the pipelines and orgchange layers keep
    only the layer name (``pipelines.run_series``)."""
    parts = module.split(".")[1:]
    if parts[0] in ("pipelines", "orgchange"):
        parts = parts[:1]
    return ".".join(parts + [fn])


def _wrap(tracer: Tracer, orig, name: str, hook):
    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as rec:
            result = orig(*args, **kwargs)
        if rec is not None and hook == "rows" and result is not None:
            tracer.defer_count(rec, "rows", result)
        elif rec is not None and callable(hook):
            hook(rec, args, kwargs, result)
        return result

    return wrapper


def instrument(tracer: Tracer):
    """Wrap every TARGETS function in each package module that refers to
    it; returns a callable that puts the originals back."""
    swaps = []
    for (modname, fname), hook in TARGETS.items():
        orig = getattr(importlib.import_module(modname), fname)
        wrapper = _wrap(tracer, orig, span_name(modname, fname), hook)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)
                    swaps.append((mod, attr, orig))

    def restore() -> None:
        for mod, attr, orig in swaps:
            setattr(mod, attr, orig)

    return restore


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, last = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], last), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                last = hi
        out[s["id"]] = s["end"] - s["start"] - covered
    return out
