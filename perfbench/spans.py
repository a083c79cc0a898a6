"""Per-layer tracing for the benchmark's traced run.

Spans come from this file only: `Tracer.install` swaps each layer's
public function for a timing wrapper in its defining module and in
every already-imported library module that bound the same function by
name (`plans/refresh.py` imports `write_partitioned` and
`run_expectations` at import time). Spans are kept per thread, because
the refresh branches run on pool threads; a span's self time is its
duration minus the time of the spans it encloses on the same thread.

Spark engine metrics come from Spark's own JSON event log, attributed
to traced iterations by time window (job groups do not follow
`ThreadPoolExecutor` threads).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (defining module, function, span name). The span name is the layer
# metric its self time lands in.
SPANS = (
    ("etl_pipelines_spark.sources.registry", "write_partitioned", "sources.write_partitioned_s"),
    ("etl_pipelines_spark.sources.registry", "load_table", "sources.load_table_s"),
    ("etl_pipelines_spark.queries.timeseries", "daily_prices", "queries.build_s"),
    ("etl_pipelines_spark.queries.timeseries", "daily_prices_from", "queries.build_s"),
    ("etl_pipelines_spark.queries.timeseries", "transfers", "queries.build_s"),
    ("etl_pipelines_spark.queries.timeseries", "transfers_from", "queries.build_s"),
    ("etl_pipelines_spark.queries.timeseries", "wallet_profits_kernel_from", "queries.build_s"),
    ("etl_pipelines_spark.expectations", "run_expectations", "expectations.run_s"),
    ("etl_pipelines_spark.operators.merge", "upsert_partitions", "operators.upsert_partitions_s"),
    ("etl_pipelines_spark.plans.reconcile", "validate_incremental_load", "plans.reconcile_s"),
    ("etl_pipelines_spark.streaming.incremental", "load_watermark_state", "streaming.watermark_load_s"),
    ("etl_pipelines_spark.streaming.incremental", "save_watermark_state", "streaming.watermark_save_s"),
)


class Tracer:
    """Thread-aware span recorder. `begin()`/`end()` bracket one traced
    iteration; `end()` returns that iteration's per-span self times,
    counts, and the self time that fell on the calling (driver)
    thread."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._reset()

    def _reset(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self.driver_self_s = 0.0
        self._driver = threading.get_ident()

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        # one frame per open span on this thread, accumulating the
        # durations of the spans it directly encloses
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        stack.append(0.0)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            self_time = max(0.0, dur - stack.pop())
            if stack:
                stack[-1] += dur
            with self._lock:
                self.self_s[name] += self_time
                if threading.get_ident() == self._driver:
                    self.driver_self_s += self_time

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def begin(self) -> None:
        self._reset()

    def end(self) -> dict:
        return {
            "self_s": dict(self.self_s),
            "counts": dict(self.counts),
            "driver_self_s": self.driver_self_s,
        }

    # --------------------------------------------------------- patching
    def install(self) -> None:
        import importlib

        for mod_name, fn_name, span_name in SPANS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            wrapped = self._wrap(orig, span_name, fn_name)
            for m in list(sys.modules.values()):
                if (
                    getattr(m, "__name__", "").startswith("etl_pipelines_spark")
                    and getattr(m, fn_name, None) is orig
                ):
                    self._patched.append((m, fn_name, orig))
                    setattr(m, fn_name, wrapped)

    def uninstall(self) -> None:
        for m, fn_name, orig in reversed(self._patched):
            setattr(m, fn_name, orig)
        self._patched.clear()

    def _wrap(self, fn, span_name: str, fn_name: str):
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(span_name):
                out = fn(*args, **kwargs)
            if fn_name == "run_expectations":
                res = out[0] if isinstance(out, tuple) else out
                tracer.count("expectations.checks", len(res))
                tracer.count("expectations.failed", sum(not r.passed for r in res))
            elif fn_name == "validate_incremental_load":
                tracer.count("plans.reconcile_unclean", 0 if out["clean"] else 1)
            elif fn_name == "upsert_partitions":
                tracer.count("operators.upsert_partitions_calls")
            return out

        wrapped.__wrapped__ = fn
        return wrapped


# ------------------------------------------------------------ event log


SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.task_run_s",
    "spark.task_cpu_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.input_bytes",
    "spark.output_bytes",
    "spark.slot_busy_share",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def spark_metrics(log_dir: str, windows: list[tuple[float, float]], cores: int) -> list[dict]:
    """Engine metrics per (start, end) wall-clock window (epoch seconds)
    from the event log(s) in `log_dir`. A job, stage or task belongs to
    the window holding its submission or launch time."""
    out = [dict.fromkeys(SPARK_METRICS, 0.0) for _ in windows]

    def slot(ms) -> dict | None:
        t = ms / 1000.0
        for (a, b), m in zip(windows, out):
            if a <= t <= b:
                return m
        return None

    paths = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    m = slot(ev["Submission Time"])
                    if m is not None:
                        m["spark.jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    m = slot(info.get("Submission Time", 0))
                    if m is not None:
                        m["spark.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = slot(ev["Task Info"]["Launch Time"])
                    tm = ev.get("Task Metrics")
                    if m is None or not tm:
                        continue
                    m["spark.tasks"] += 1
                    m["spark.task_run_s"] += tm["Executor Run Time"] / 1e3
                    m["spark.task_cpu_s"] += tm["Executor CPU Time"] / 1e9
                    m["spark.gc_s"] += tm["JVM GC Time"] / 1e3
                    sr = tm["Shuffle Read Metrics"]
                    m["spark.shuffle_read_bytes"] += (
                        sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    )
                    m["spark.shuffle_write_bytes"] += tm["Shuffle Write Metrics"][
                        "Shuffle Bytes Written"
                    ]
                    m["spark.spill_bytes"] += tm["Disk Bytes Spilled"]
                    m["spark.input_bytes"] += tm["Input Metrics"]["Bytes Read"]
                    m["spark.output_bytes"] += tm["Output Metrics"]["Bytes Written"]
    for (a, b), m in zip(windows, out):
        m["spark.slot_busy_share"] = m["spark.task_run_s"] / ((b - a) * cores)
    return out
