#!/usr/bin/env python3
"""Benchmark of the warehouse library: one command, three workloads.

    python3 perfbench/run.py --workload rebuild --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The corpus is generated on first use
into `.bench_build/perfbench/` (see corpus.py); every run works in its
own directory there and removes it on exit. The last stdout line is one
JSON object {"correct", "attempted", "failed", "metrics"}: with
`--trace 0` the end-to-end metrics, with `--trace 1` the per-layer
metrics of BENCHMARK.json. The line before it records the host (cores,
heap, load average, steal share) and the run's parameters.

Timed iterations run closed loop from one caller until `--seconds` of
iteration time has passed, and at least twice: the first iteration
after setup is `cold_s`, the median of the rest is `run_s`. A traced
run first repeats the untraced protocol, then alternates traced and
untraced iterations; the per-layer numbers are medians over the traced
ones.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json,
    the one list of what a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("rebuild", "incremental_day", "catalog"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the smoke test runs a smaller corpus; the benchmark's is 0.01
    ap.add_argument("--scale", type=float, default=0.01)
    return ap.parse_args(argv)


def timed_loop(wl, seconds: float, min_iters: int, traced: bool, tracer=None):
    """Iterations until `seconds` of timed work and `min_iters` are done.
    Returns per-iteration records."""
    recs = []
    spent = 0.0
    while len(recs) < min_iters or spent < seconds:
        wl.prepare()
        if tracer is not None:
            tracer.begin()
            persisted = _persisted_rdds(wl.spark)
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            attempted, failed = wl.run(traced)
        except Exception as e:  # noqa: BLE001 — a failed iteration is counted, not fatal
            print(f"iteration failed: {type(e).__name__}: {e}", file=sys.stderr)
            attempted, failed = 1, 1
        dt_ = time.perf_counter() - t0
        rec = {"s": dt_, "window": (w0, time.time()), "attempted": attempted, "failed": failed}
        rec["entries"] = wl.entry_times() or {"refresh": dt_}
        if tracer is not None:
            rec["trace"] = tracer.end()
            if not failed:
                rec["layers"] = wl.layer_counts()
                rec["layers"]["spark.persisted_rdds_retained"] = (
                    _persisted_rdds(wl.spark) - persisted
                )
        recs.append(rec)
        spent += dt_
    return recs


def _persisted_rdds(spark) -> int:
    """RDDs the session holds persisted; a library call that returns
    without unpersisting what it cached raises this count."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def end_to_end(recs, setup_s: float, peak_rss: int) -> dict:
    warm = recs[1:] or recs
    entries = {k: statistics.median(r["entries"][k] for r in warm) for k in warm[0]["entries"]}
    return {
        "setup_s": setup_s,
        "run_s": statistics.median(r["s"] for r in warm),
        "entry_geomean_s": geomean(entries.values()),
        "peak_rss_mb": peak_rss / 2**20,
    }


def per_layer(names, recs_traced, untraced_s, cold_s, session, log_dir, cores) -> dict:
    from spans import spark_metrics

    engine = spark_metrics(log_dir, [r["window"] for r in recs_traced], cores)
    rows = []
    for rec, eng in zip(recs_traced, engine):
        row = dict.fromkeys(names, 0.0)
        row.update(session)
        row["cold_s"] = cold_s
        tr = rec["trace"]
        row.update(tr["self_s"])
        row.update(tr["counts"])
        row.update(rec.get("layers", {}))
        row.update(eng)
        row["trace.run_s"] = rec["s"]
        row["trace.driver_spans_s"] = tr["driver_self_s"]
        row["trace.driver_other_s"] = rec["s"] - tr["driver_self_s"]
        rows.append(row)
    unknown = set(rows[0]) - set(names)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    out = {n: statistics.median(r[n] for r in rows) for n in names}
    out["trace.overhead_share"] = (out["trace.run_s"] - untraced_s) / untraced_s
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and, through it, the
    Python workers) to exit."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    try:
        import etl_pipelines_spark  # noqa: F401
    except ImportError:
        print("perfbench: run from the root of a checkout of the library", file=sys.stderr)
        return 2

    import corpus

    cache = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(cache, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_corpus = time.perf_counter()
        data = corpus.ensure(cache, args.scale)
        t_main += time.perf_counter() - t_corpus  # input generation is not setup
        return measure(args, data, work, t_main)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, data: str, work: str, t_main: float) -> int:
    import numpy as np

    import host
    from workloads import WORKLOADS

    conf = host.configure(ROOT, work)
    cores, heap = host.cores(), host.heap_gb()
    log_dir = os.path.join(work, "events")
    if args.trace:
        from spans import event_log_conf

        conf.update(event_log_conf(log_dir))
    cpu0, load0 = host.cpu_times(), host.loadavg()
    phases = {}
    spark = None
    try:
        from pyspark import SparkContext

        from etl_pipelines_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session = {"session.start_s": time.perf_counter() - t}
        t = time.perf_counter()
        warm_up(spark, cores)
        session["session.warm_s"] = time.perf_counter() - t
        wl = WORKLOADS[args.workload](spark, data, work, np.random.default_rng(args.seed))
        wl.setup()
        setup_s = time.perf_counter() - t_main
        phases["setup_s"] = setup_s

        t = time.perf_counter()
        with host.RssSampler(SparkContext._gateway.proc.pid) as rss:
            recs = timed_loop(wl, args.seconds, wl.min_iters, False)
        phases["timed_s"] = time.perf_counter() - t
        t = time.perf_counter()
        try:
            checked, check_failed = wl.check()
        except Exception as e:  # noqa: BLE001 — a check that cannot run is a failed check
            print(f"check failed: {type(e).__name__}: {e}", file=sys.stderr)
            checked, check_failed = 1, 1
        phases["check_s"] = time.perf_counter() - t
        metrics = end_to_end(recs, setup_s, rss.peak)
        attempted = sum(r["attempted"] for r in recs) + checked
        failed = sum(r["failed"] for r in recs) + check_failed

        if args.trace:
            from spans import Tracer

            t = time.perf_counter()
            tracer = wl.tracer = Tracer()
            traced, untraced = [], []
            # traced and untraced iterations alternate, so the warm-up
            # trend across iterations cancels out of the overhead
            for _ in range(wl.iterations_traced):
                tracer.install()
                try:
                    traced += timed_loop(wl, 0, 1, True, tracer)
                finally:
                    tracer.uninstall()
                untraced += timed_loop(wl, 0, 1, False)
            phases["trace_s"] = time.perf_counter() - t
            for r in traced + untraced:
                attempted += r["attempted"]
                failed += r["failed"]
    finally:
        if spark is not None:
            stop_spark(spark)

    e2e_units, layer_units = declared_metrics()
    if args.trace:
        values = per_layer(
            layer_units,
            traced,
            statistics.median(r["s"] for r in untraced),
            recs[0]["s"],
            session,
            log_dir,
            cores,
        )
        units = layer_units
    else:
        values, units = metrics, e2e_units

    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "params": wl.describe(),
        "host": {
            "nproc": cores,
            "heap": f"{heap}g",
            "loadavg_start": load0,
            "loadavg_end": host.loadavg(),
            "steal_share": host.steal_share(cpu0, host.cpu_times()),
        },
        "phases_s": phases,
        "peak_jvm_mb": rss.peak_root / 2**20,
        "iterations_s": [r["s"] for r in recs],
        "error_rate": failed / attempted,
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


def warm_up(spark, cores: int) -> None:
    """JVM/codegen warm-up on a trivial action, then spawn the pandas-UDF
    Python workers so no iteration pays their start."""
    from pyspark.sql.functions import pandas_udf

    spark.range(1000).selectExpr("sum(id)").collect()

    @pandas_udf("long")
    def _ident(s):
        return s

    spark.range(10_000).repartition(cores).select(_ident("id")).write.format(
        "noop"
    ).mode("overwrite").save()


if __name__ == "__main__":
    sys.exit(main())
