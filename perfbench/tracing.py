"""Benchmark-side tracing: spans around calls into the engine's
public entry points, and Spark stage counters per timed operation.

Nothing here edits the engine. ``install`` rebinds the listed
functions and methods to timing wrappers in this process only, and
``Tracer.op`` brackets each timed operation with O(1) stage/job id
markers read from the DAG scheduler. After the timed section,
``spark_counters`` reads the status-store stage list once and
attributes each stage to the operation whose id window holds it.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import statistics
import sys
import time
from collections import defaultdict

# Layers are the engine's top-level modules (set-up's session start is
# timed outside the trace); every span carries one.
LAYERS = (
    "bench",
    "sources",
    "plans",
    "functions",
    "formatters",
    "fsio",
    "exporter",
    "operators",
    "queries",
)


class Tracer:
    """Spans kept in memory: ``(name, layer, parent index, start, end)``.
    A span's self time is its duration minus its direct children's."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0
        self.counts: dict[str, float] = defaultdict(float)
        # (op name, first stage id, end stage id, first job id, end job id)
        self.op_windows: list[tuple[str, int, int, int, int]] = []

    # -- spans -----------------------------------------------------------
    def _open(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, layer, parent, time.perf_counter(), None])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][4] = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        t0 = time.perf_counter()
        idx = self._open(name, layer)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._close(idx)
            self.overhead_s += time.perf_counter() - t1

    def _markers(self) -> tuple[int, int]:
        dag = self.spark.sparkContext._jsc.sc().dagScheduler()  # noqa: SLF001
        return int(dag.nextStageId()), int(dag.nextJobId())

    @contextlib.contextmanager
    def op(self, name: str):
        """Root span of one timed operation plus its stage/job window."""
        t0 = time.perf_counter()
        s0, j0 = self._markers()
        self.overhead_s += time.perf_counter() - t0
        try:
            with self.span(name, "bench"):
                yield
        finally:
            t1 = time.perf_counter()
            s1, j1 = self._markers()
            self.op_windows.append((name, s0, s1, j0, j1))
            self.overhead_s += time.perf_counter() - t1

    def count(self, key: str, n: float = 1) -> None:
        self.counts[key] += n

    # -- summaries -------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        child = [0.0] * len(self.spans)
        for name, layer, parent, t0, t1 in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out = {layer: 0.0 for layer in LAYERS}
        for i, (name, layer, parent, t0, t1) in enumerate(self.spans):
            out[layer] += (t1 - t0) - child[i]
        return out

    def root_wall(self) -> float:
        return sum(t1 - t0 for _, _, p, t0, t1 in self.spans if p < 0)

    def mean_duration(self, name: str) -> float:
        ds = [t1 - t0 for n, _, _, t0, t1 in self.spans if n == name]
        return statistics.fmean(ds) if ds else 0.0

    def dump(self) -> list[dict]:
        return [
            {"name": n, "layer": layer, "parent": p, "start": t0, "end": t1}
            for n, layer, p, t0, t1 in self.spans
        ]


def spark_counters(spark, windows) -> dict[str, float]:
    """Per-operation means of the status-store stage metrics over the
    timed operations' stage windows."""
    from exporter_spark.benchlib import _stage_list

    if not windows:
        return {}
    lo = min(w[1] for w in windows)
    tot: dict[str, float] = defaultdict(float)
    it = _stage_list(spark).iterator()
    starts = sorted((w[1], w[2]) for w in windows)
    while it.hasNext():
        s = it.next()
        sid = s.stageId()
        if sid < lo or not any(a <= sid < b for a, b in starts):
            continue
        tot["stages"] += 1
        tot["tasks"] += s.numTasks()
        tot["failed_tasks"] += s.numFailedTasks()
        tot["executor_run_s"] += s.executorRunTime() / 1e3
        tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
        tot["gc_s"] += s.jvmGcTime() / 1e3
        tot["input_bytes"] += s.inputBytes()
        tot["input_records"] += s.inputRecords()
        tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
        tot["spill_disk_bytes"] += s.diskBytesSpilled()
    tot["jobs"] = sum(w[4] - w[3] for w in windows)
    n = len(windows)
    keys = (
        "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
        "executor_cpu_s", "gc_s", "input_bytes", "input_records",
        "shuffle_write_bytes", "spill_disk_bytes",
    )
    return {f"spark.{k}": tot.get(k, 0.0) / n for k in keys}


# -- wrapping the engine's entry points ----------------------------------


def _wrap(tracer: Tracer, fn, name, layer, on_return=None):
    """Timing wrapper; a generator's span covers its whole consumption."""
    if inspect.isgeneratorfunction(fn):

        @functools.wraps(fn)
        def gen_wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                yield from fn(*args, **kwargs)

        return gen_wrapper

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name, layer):
            result = fn(*args, **kwargs)
        if on_return is not None:
            t0 = time.perf_counter()
            on_return(result, *args, **kwargs)
            tracer.overhead_s += time.perf_counter() - t0
        return result

    return wrapper


def _rebind(original, replacement) -> list[tuple[object, str, object]]:
    """Point every name the engine's modules bind to ``original`` at
    ``replacement`` (modules that imported it by name hold their own
    binding); returns the undo list."""
    undo = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("exporter_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                undo.append((mod, attr, original))
    return undo


def install(tracer: Tracer):
    """Wrap the public entry points of each engine module that the
    workloads reach. Returns a callable that restores the originals."""
    import exporter_spark.queries  # noqa: F401 — binds every module first
    from exporter_spark import fsio
    from exporter_spark.exporter import Exporter
    from exporter_spark.formatters import base, csv, html, json, xml
    from exporter_spark.functions import tostring
    from exporter_spark.operators import dedup, partitioning
    from exporter_spark.plans.spec import ExportSpec
    from exporter_spark.sources import files, jdbc

    undo: list[tuple[object, str, object]] = []

    def patch_fn(mod, attr, name, layer, on_return=None):
        orig = getattr(mod, attr)
        undo.extend(_rebind(orig, _wrap(tracer, orig, name, layer, on_return)))

    def patch_method(cls, attr, name, layer):
        orig = cls.__dict__[attr]
        setattr(cls, attr, _wrap(tracer, orig, name, layer))
        undo.append((cls, attr, orig))

    def spread_done(result, df, *key_cols):
        tracer.count("operators.partitioning.spread_calls")

    def spliced(result, parts_dir, out_path, **kw):
        tracer.count("fsio.splice_calls")
        tracer.count("fsio.spliced_bytes", fsio.file_len(out_path, kw.get("spark")))

    patch_fn(files, "load_table", "sources.load_table", "sources")
    patch_fn(jdbc, "from_jdbc", "sources.from_jdbc", "sources")
    patch_fn(tostring, "display_columns", "functions.display_columns", "functions")
    patch_fn(partitioning, "spread", "operators.partitioning.spread", "operators", spread_done)
    patch_fn(dedup, "connected_components", "operators.dedup.connected_components", "operators")
    patch_fn(fsio, "splice_parts", "fsio.splice_parts", "fsio", spliced)
    patch_method(ExportSpec, "compile", "plans.compile", "plans")
    patch_method(ExportSpec, "compile_raw", "plans.compile", "plans")
    patch_method(Exporter, "write_file", "exporter.write_file", "exporter")
    patch_method(Exporter, "write_single_part", "exporter.write_single_part", "exporter")
    for cls, fmt in (
        (csv.CSVFormatter, "csv"),
        (json.JSONFormatter, "json"),
        (xml.XMLFormatter, "xml"),
        (html.HTMLFormatter, "html"),
    ):
        patch_method(cls, "write", f"formatters.{fmt}.write", "formatters")
        patch_method(cls, "iter_chunks", "formatters.iter_chunks", "formatters")
    for cls in (base.BaseFormatter, xml.XMLFormatter, html.HTMLFormatter):
        patch_method(cls, "write_single_part", "formatters.write_single_part", "formatters")

    def restore():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return restore
