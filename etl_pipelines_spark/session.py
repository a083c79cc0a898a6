"""SparkSession factory tuned for this engine.

Defaults target local[N] testing but every knob is chosen for cluster
scale: AQE on (skew joins on hot coins/wallets), explicit shuffle
partition sizing, Arrow for the few pandas boundaries, UTC session
timezone so date semantics match the reference (BigQuery is UTC-only).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl-pipelines-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local[N] runs executors INSIDE the driver JVM: this is the
        # whole heap for N concurrent tasks. The LIBRARY default stays
        # 8g so small hosts keep working; the bench/scale harnesses
        # (bench.py, tools/bench_*) export SPARK_DRIVER_MEMORY=12g —
        # 8g intermittently dies of GCLocker retry exhaustion under
        # the 10x bench corpus, 12g holds on the 128 GiB test host
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session.

    The driver hands us its own SparkSession; date/timestamp semantics
    must still be UTC for parity with the DuckDB oracle.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # testdata events.parquet uses TIMESTAMP(NANOS); read as long + convert
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def run_concurrently(*fns):
    """Call each function concurrently and return their results in
    argument order.

    The first function runs on the calling thread, the rest on pool
    threads, so a caller's thread-local Spark job description still
    covers its own share of the work. Every call is joined before
    anything is raised, and no failure is dropped: one failure
    re-raises unchanged; several raise together as an ExceptionGroup,
    so an error on one thread can never hide another's."""
    if len(fns) <= 1:
        return [fn() for fn in fns]
    from concurrent.futures import ThreadPoolExecutor

    results, errors = [None] * len(fns), []
    with ThreadPoolExecutor(max_workers=len(fns) - 1) as pool:
        futures = [pool.submit(fn) for fn in fns[1:]]
        try:
            results[0] = fns[0]()
        except Exception as exc:
            errors.append(exc)
        for i, fut in enumerate(futures, 1):
            try:
                results[i] = fut.result()
            except Exception as exc:
                errors.append(exc)
    if len(errors) == 1:
        raise errors[0]
    if errors:
        raise ExceptionGroup("concurrent calls failed", errors)
    return results
