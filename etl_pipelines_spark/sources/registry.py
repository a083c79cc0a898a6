"""Parquet table registry over the driver-generated TESTDATA.

The universal table read in the reference is a BigQuery SQL scan
(SURVEY.md §2.1 S1, e.g. core_coin_wallet_profits.py:108-177); here the
equivalent is a Parquet scan registered as a temp view so both the
DataFrame API and spark.sql() work. Parquet scans get predicate
pushdown + column pruning from Catalyst for free.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects; read nanos as long and convert (truncate) to the
    # engine's microsecond timestamps — matches DuckDB's NS->US cast.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


@dataclass(frozen=True)
class FooterStats:
    n_rows: int | None
    ts_dates: tuple[dt.date, dt.date] | None = None


def footer_stats(sf_dir: str, name: str, ts_col: str | None = None) -> FooterStats:
    """Row count and, with `ts_col`, the global [min, max] DATE of that
    timestamp column, read driver-side from the parquet footers of one
    table in the `load_table` layout — a single `<name>.parquet` file
    or a Spark-written directory of part files, listed once.

    A footer read costs ~1 ms where a count or min/max job costs a
    scheduler round-trip plus a scan. Footer min/max are
    exact for INT64-backed timestamps and skip NULLs exactly like
    F.min/F.max; the date of the min equals the min of the dates
    because to_date is monotone.

    A probe, so it never raises. `n_rows` is None when the table has no
    part files or a footer cannot be read (the caller's own scan then
    reports the error). `ts_dates` is None — callers fall back to an
    aggregation scan — on any such error and whenever the column is
    missing, not a plain timestamp, or lacks exact min/max statistics
    in some row group, or a pre-epoch value appears (unit truncation
    below assumes non-negative epochs, like the read path's
    `ts div 1000`)."""
    import glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    files = (
        [path] if os.path.isfile(path) else sorted(glob.glob(os.path.join(path, "*.parquet")))
    )
    try:
        footers = [pq.ParquetFile(f) for f in files]
    except Exception:  # missing or corrupt part file
        footers = []
    if not footers:
        return FooterStats(None)
    n_rows = sum(pf.metadata.num_rows for pf in footers)
    if ts_col is None:
        return FooterStats(n_rows)
    try:
        ts_dates = _footer_ts_dates(footers, ts_col)
    except Exception:  # missing column, unreadable metadata: scan instead
        ts_dates = None
    return FooterStats(n_rows, ts_dates)


def _footer_ts_dates(footers, ts_col: str):
    import pyarrow as pa

    lo = hi = None
    for pf in footers:
        ftype = pf.schema_arrow.field(ts_col).type
        if not pa.types.is_timestamp(ftype):
            return None
        per_us = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": 1}[ftype.unit]
        div_ns = 1_000 if ftype.unit == "ns" else 1
        md = pf.metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            stats = next(
                rg.column(j) for j in range(rg.num_columns)
                if rg.column(j).path_in_schema == ts_col
            ).statistics
            if (
                stats is None
                or not stats.has_min_max
                or not isinstance(stats.min_raw, int)
                or stats.min_raw < 0
            ):
                return None
            us_lo = stats.min_raw // div_ns * per_us
            us_hi = stats.max_raw // div_ns * per_us
            lo = us_lo if lo is None else min(lo, us_lo)
            hi = us_hi if hi is None else max(hi, us_hi)
    if lo is None:
        return None
    epoch = dt.date(1970, 1, 1)
    return (
        epoch + dt.timedelta(days=lo // 86_400_000_000),
        epoch + dt.timedelta(days=hi // 86_400_000_000),
    )


def register_testdata(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register every testdata table as a temp view (idempotent)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def schema_drift(df: DataFrame, expected) -> dict[str, list[str]]:
    """Contract check on the read path (the dbt schema-test analogue,
    SURVEY.md §5.3, applied BEFORE a job runs instead of after a table
    is written): diff a frame's actual schema against the declared
    StructType and report added / missing / retyped columns.

    At 100 TB a silently widened upstream export (new column, int ->
    string drift) surfaces as a 3 a.m. cast error deep inside a
    pipeline — or worse, as wrong nulls. Checking the contract at the
    scan costs one metadata read. Returns {"added": [...], "missing":
    [...], "retyped": ["col: expected X, got Y", ...]}; empty lists =
    no drift. Use assert_no_drift to fail fast."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    want = {f.name: f.dataType.simpleString() for f in expected.fields}
    return {
        "added": sorted(set(actual) - set(want)),
        "missing": sorted(set(want) - set(actual)),
        "retyped": sorted(
            f"{c}: expected {want[c]}, got {actual[c]}"
            for c in set(want) & set(actual)
            if want[c] != actual[c]
        ),
    }


def assert_no_drift(df: DataFrame, expected, table: str = "<frame>") -> None:
    drift = schema_drift(df, expected)
    if any(drift.values()):
        raise ValueError(f"schema drift in {table}: {drift}")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols=("date",),
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Write a curated table with the reference's physical layout:
    PARTITION BY DATE(date) CLUSTER BY ... (orchestrator.py:277-279) →
    columnar partitionBy + sortWithinPartitions. `fmt` is any Spark
    columnar format ("parquet" default, "orc" supported natively) —
    partition pruning and predicate pushdown apply to both (pinned in
    test_write_path).

    The frame is repartitioned ON the partition columns first: without
    it every write task emits a file into every hive directory it
    touches — tasks x partitions small files (measured 30x the file
    count and 3x the wall-clock on the refresh bench), the classic
    small-files problem that murders downstream scans at 100 TB. One
    shuffle buys one file per partition; AQE coalesces/splits the
    shuffle to keep those files sized."""
    cols = [c for c in partition_cols if c in df.columns]
    if cols:
        df = df.repartition(*cols)
    writer = df.write.mode(mode).format(fmt)
    if cols:
        writer = writer.partitionBy(*cols)
    writer.save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write a managed table bucketed (and sorted) on join/agg keys —
    the co-located-join layout for tables that are repeatedly joined
    on the same key at scale (the reference's CLUSTER BY coin_id,
    wallet_address, orchestrator.py:277-279, is this intent).

    Two bucketed tables with the same bucket spec join with NO
    exchange on either side (pinned by test_write_path): at 100 TB
    that turns the nightly transfers x prices join from two
    corpus-size shuffles into a partition-local merge. Bucketing
    requires saveAsTable (the bucket metadata lives in the catalog).
    """
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def zorder_key(df: DataFrame, cols: list[str], bits: int = 10) -> DataFrame:
    """Append a Morton (Z-order) clustering key `_z` interleaving the
    bit-planes of min/max-scaled `cols`.

    Sorting by one column gives perfect skipping on that column and
    none on the others; interleaving bits gives every listed column
    partial locality, so a file's (col1, col2, ...) bounding box stays
    small in EVERY dimension and a reader's min/max-stats pruning can
    skip files for predicates on any of them. Per-column scale stats
    ride a broadcast 1-row cross join (no collect, fully lazy); the
    interleave itself is shift/or arithmetic inside whole-stage
    codegen. Degenerate columns (min == max) contribute zero bits
    rather than dividing by zero."""
    if bits * len(cols) > 63:
        # Java shift semantics mask the count mod 64: positions >= 64
        # would silently wrap onto low bits and scramble the curve
        raise ValueError(
            f"zorder_key: bits * len(cols) = {bits * len(cols)} exceeds 63; "
            "lower bits or cluster on fewer columns"
        )
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
            F.max(F.col(c).cast("double")).alias(f"_hi_{c}"),
        ]
    out = df.crossJoin(F.broadcast(df.agg(*aggs)))
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        lo, hi = F.col(f"_lo_{c}"), F.col(f"_hi_{c}")
        frac = F.when(
            hi > lo, (F.col(c).cast("double") - lo) / (hi - lo)
        ).otherwise(F.lit(0.0))
        scaled.append(
            # a NULL value sorts to the low end of its dimension
            # (frac 0) instead of nulling the whole Morton key
            F.least(
                F.floor(F.coalesce(frac, F.lit(0.0)) * F.lit(1 << bits)).cast(
                    "long"
                ),
                F.lit(top),
            )
        )
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, i * len(cols) + j))
    drop = [f"_lo_{c}" for c in cols] + [f"_hi_{c}" for c in cols]
    return out.withColumn("_z", z).drop(*drop)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 10,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write `df` clustered on the Z-order curve over `cols` — the
    multi-dimensional data-skipping layout (Delta/Iceberg OPTIMIZE
    ZORDER BY, as plain Spark): range-partition on the Morton key so
    each output file owns a contiguous curve segment, sort within
    partitions so row groups are tight too, then drop the key.

    At 100 TB this is what makes selective multi-column point/box
    queries cheap: parquet footer min/max stats let the scan skip
    every file whose bounding box misses the predicate, and the curve
    keeps those boxes small in all `cols` dimensions at once
    (measured in test_write_path: a 2-D box probe touches strictly
    fewer candidate files than a 1-D sorted layout of the same
    data)."""
    zdf = zorder_key(df, cols, bits)
    if n_files is None:
        # the conf value is not always an integer ('auto' under some
        # AQE setups) — fall back to a sane default rather than raise
        try:
            n_files = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):
            n_files = 200
    (
        zdf.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def file_pruning_candidates(
    spark: SparkSession, path: str, predicates: dict[str, tuple]
) -> tuple[int, int]:
    """(candidate_files, total_files) for box `predicates`
    {col: (lo, hi)} against a parquet directory, using the same
    per-file min/max reasoning a stats-pruning reader applies: a file
    can be skipped iff its [min, max] range misses [lo, hi] on ANY
    predicate column. Diagnostic for layout quality (used by the
    z-order test); the production reader gets this pruning from
    parquet footers for free."""
    df = spark.read.parquet(path)
    per_file = df.groupBy(F.input_file_name().alias("_f")).agg(
        *[
            a
            for c in predicates
            for a in (F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}"))
        ]
    )
    cond = F.lit(True)
    for c, (lo, hi) in predicates.items():
        cond = cond & (F.col(f"_hi_{c}") >= F.lit(lo)) & (
            F.col(f"_lo_{c}") <= F.lit(hi)
        )
    total = per_file.count()
    return per_file.filter(cond).count(), total


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols=("date",),
    fmt: str = "parquet",
    max_records_per_file: int = 5_000_000,
) -> tuple[int, int]:
    """Rewrite a partitioned table so each partition holds few,
    right-sized files; returns (files_before, files_after).

    Incremental appends — the streaming dedupe sink, micro-batch
    landings, per-day backfills — accrete one-file-per-batch until a
    scan pays an open/seek per tiny file; at 100 TB that is the
    difference between thousands and millions of tasks. Compaction =
    read -> repartition on the partition keys (one shuffle that also
    co-locates rows with their output partition, so each writer task emits
    files for one partition, not one file per (task, partition) pair)
    -> write to a staging dir -> two-step rename swap. Spark cannot
    overwrite a path it is lazily reading, so the staging dir keeps
    readers safe while the rewrite runs. The swap itself is two
    renames, NOT atomic as a unit: a crash after the first rename
    leaves the table under `<path>__retired` (recovery = rename it
    back); a crash before it leaves the original untouched. Leftover
    `__retired` / `__compacting` dirs from a crashed run are detected
    up front and raise instead of being silently nested into.
    """
    import glob
    import shutil

    def _count(p: str) -> int:
        exts = {"parquet": ".parquet", "orc": ".orc"}
        return len(glob.glob(os.path.join(p, "**", "*" + exts.get(fmt, "")),
                             recursive=True))

    before = _count(path)

    def rewrite(staged: str) -> None:
        df = spark.read.format(fmt).load(path)
        cols = [c for c in partition_cols if c in df.columns]
        writer = (
            (df.repartition(*cols) if cols else df.coalesce(1))
            .write.mode("overwrite")
            .format(fmt)
            .option("maxRecordsPerFile", max_records_per_file)
        )
        if cols:
            writer = writer.partitionBy(*cols)
        writer.save(staged)

    staged_table_swap(path, rewrite, staged_suffix="__compacting")
    return before, _count(path)


def staged_table_swap(path: str, write_to_staging, staged_suffix: str = "__staging") -> None:
    """The crash-safe rewrite discipline shared by every in-place table
    rewrite (compaction, MERGE): fail fast on a stale `__retired` dir
    from a crashed prior swap, clear disposable staging garbage, call
    `write_to_staging(staged_path)`, then swap with two os.renames
    (same-filesystem atomic per call — staging is a sibling path by
    construction; shutil.move would fall back to copy+delete across
    mounts and widen the unsafe window). A crash after the first rename
    leaves the table under `<path>__retired`; recovery = rename it
    back. ONE implementation on purpose: a fix to the swap discipline
    must not have a second copy to miss."""
    import shutil

    staged = path.rstrip("/") + staged_suffix
    retired = path.rstrip("/") + "__retired"
    if os.path.exists(retired):
        raise RuntimeError(
            f"stale {retired!r} exists — a prior rewrite crashed mid-swap; "
            f"recover by moving it back to {path!r} (or delete it if "
            f"{path!r} is complete) before rewriting again"
        )
    if os.path.exists(staged):
        # A crash before the swap left only staging garbage; the
        # original table is intact, so the staging dir is disposable.
        shutil.rmtree(staged)
    write_to_staging(staged)
    os.rename(path, retired)
    os.rename(staged, path)
    shutil.rmtree(retired)


def table_fingerprint(sf_dir: str, name: str) -> str:
    """Cheap content fingerprint of a registered table: (path, size,
    mtime_ns) for the parquet file, or every data file under it when
    the table is a directory. Metadata-only — no data read. On a real
    lake this is the snapshot/transaction id; over plain files, size +
    mtime is the strongest signal available without hashing bytes."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    entries = []
    if os.path.isdir(path):
        for root, _, files in sorted(os.walk(path)):
            for f in sorted(files):
                if f.startswith(("_", ".")):
                    continue
                fp = os.path.join(root, f)
                st = os.stat(fp)
                entries.append(f"{fp}:{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(path)
        entries.append(f"{path}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(entries)


class FingerprintCache:
    """Driver-side train-once/serve-many cache (k-means codebooks, BPE
    merge lists, dimension domains) keyed by sf path AND the source
    table's content fingerprint: mutating the table under a cached
    path refreshes the artifact instead of serving stale state — the
    round-3 `_SRC_DOMAINS` hazard. Values are result-sized training
    artifacts (k x dim floats, k string pairs), never DataFrames."""

    def __init__(self, table: str):
        self.table = table
        self._store: dict[str, tuple[str, object]] = {}

    def get_or_build(self, sf_dir: str, build):
        fp = table_fingerprint(sf_dir, self.table)
        hit = self._store.get(sf_dir)
        if hit is not None and hit[0] == fp:
            return hit[1]
        value = build()
        self._store[sf_dir] = (fp, value)
        return value

    def clear(self) -> None:
        self._store.clear()
