"""The three workloads. Each drives the library only through its public
entry points — `refresh_warehouse`, `refresh_warehouse_incremental`
and `DRIVER_QUERIES[*].spark_fn` — from one caller in a closed loop:
each job starts when the previous one finishes.

A workload object has four phases, called in order by run.py:
`setup()` builds the fixture (inside setup_s), `prepare()` runs
untimed before every iteration, `run(traced)` is one timed iteration
returning (attempted, failed), and `check()` verifies outputs once per
invocation, outside the timed region, returning (attempted, failed).
`layer_counts()` adds per-iteration layer numbers taken outside the
timed region of a traced iteration.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import time

TABLES = (
    "chains",
    "coins",
    "coin_facts",
    "coin_market_data",
    "coin_wallet_transfers",
    "coin_wallet_profits",
)
REFRESH_STAGES = (
    "pull",
    "guard",
    "dims",
    "coin_market_data",
    "coin_wallet_transfers",
    "coin_wallet_profits",
    "marks",
)


def quarter_window(rng) -> tuple[dt.date, dt.date]:
    """A calendar quarter of a full ship-date year of the corpus."""
    year = int(rng.choice(range(1995, 2001)))
    q = int(rng.choice(range(4)))
    first = dt.date(year, 3 * q + 1, 1)
    nxt = dt.date(year + (q == 3), (3 * q + 3) % 12 + 1, 1)
    return first, nxt - dt.timedelta(days=1)


def arrival_days(corpus: str, first: dt.date, last: dt.date) -> list[dt.date]:
    """Ship days in [first, last] on which some lineitem arrives."""
    import pyarrow.parquet as pq

    ship = pq.read_table(os.path.join(corpus, "lineitem.parquet"), columns=["l_shipdate"])
    days = {d.date() for d in ship.column(0).to_pylist()}
    return sorted(d for d in days if first <= d <= last)


def table_digests(spark, out_dir: str) -> dict:
    """(rows, order-independent digest) per warehouse table; the six
    one-row aggregations are submitted together."""
    from concurrent.futures import ThreadPoolExecutor

    from etl_pipelines_spark.operators.tablediff import table_digest

    def digest(t: str) -> tuple:
        df = spark.read.parquet(os.path.join(out_dir, t))
        cols = sorted(df.columns)
        r = table_digest(df.select(*cols), cols).first()
        return r["n_rows"], r["digest"]

    with ThreadPoolExecutor(len(TABLES)) as pool:
        return dict(zip(TABLES, pool.map(digest, TABLES)))


def written_files(out_dir: str, since: float) -> dict:
    """Parquet files under `out_dir` modified at or after `since`:
    their count, bytes, distinct partition directories, and rows (from
    the footers)."""
    import pyarrow.parquet as pq

    files = bytes_ = rows = 0
    parts = set()
    for dirpath, _, names in os.walk(out_dir):
        for n in names:
            if not n.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            if st.st_mtime < since:
                continue
            files += 1
            bytes_ += st.st_size
            rows += pq.ParquetFile(p).metadata.num_rows
            parts.add(dirpath)
    return {"files": files, "bytes": bytes_, "partitions": len(parts), "rows": rows}


class Workload:
    min_iters = 2  # the first is cold_s; run_s is the median of the rest
    iterations_traced = 2

    def __init__(self, spark, corpus: str, work: str, rng) -> None:
        self.spark = spark
        self.corpus = corpus
        self.work = work
        self.rng = rng
        self.report = None  # last RefreshReport
        self.t_start = 0.0

    def setup(self) -> None:
        pass

    def prepare(self) -> None:
        pass

    def check(self) -> tuple[int, int]:
        return 0, 0

    def entry_times(self) -> dict[str, float]:
        """Per-entry times of the last iteration; a refresh is one entry."""
        return {}

    def _refresh_counts(self, out_dir: str, delta_rows: int) -> dict:
        w = written_files(out_dir, self.t_start)
        r = self.report
        counts = {
            "sources.files_written": w["files"],
            "sources.bytes_written": w["bytes"],
            "sources.partitions_written": w["partitions"],
            "sources.rows_written_per_delta_row": w["rows"] / max(delta_rows, 1),
            "plans.refresh.affected_coins": r.affected_coins or 0,
            "plans.refresh.affected_coin_share": (r.affected_coins or 0) / self.n_coins(),
        }
        for s in REFRESH_STAGES:
            counts[f"plans.refresh.{s}_s"] = float(r.stage_sec.get(s, 0.0))
        return counts

    def n_coins(self) -> int:
        """All coins of the corpus: the denominator of affected_coin_share."""
        import pyarrow.parquet as pq

        return pq.ParquetFile(os.path.join(self.corpus, "part.parquet")).metadata.num_rows


class Rebuild(Workload):
    """`refresh_warehouse` over one seed-picked calendar quarter with the
    full coin universe: six tables written by date partition, then the
    declared audits on every table."""

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.since, self.until = quarter_window(self.rng)
        self.out = os.path.join(self.work, "rebuild")

    def describe(self) -> dict:
        return {"since": str(self.since), "until": str(self.until), "coins": self.n_coins()}

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self, traced: bool) -> tuple[int, int]:
        from etl_pipelines_spark.plans.refresh import refresh_warehouse

        self.t_start = time.time()
        self.report = refresh_warehouse(
            self.spark, self.corpus, self.out, since=str(self.since), until=str(self.until)
        )
        return 1, 0 if self.report.passed else 1

    def layer_counts(self) -> dict:
        # a rebuild's delta is every row it lands
        return self._refresh_counts(self.out, sum(self.report.tables.values()))


class IncrementalDay(Workload):
    """One day of arrivals, picked by the seed among the arrival days in
    the last week of a calendar quarter, lands through `refresh_warehouse_incremental` on a
    standing warehouse holding the quarter up to the day before. Every
    iteration restores the standing warehouse and its watermark state
    by copy, untimed."""

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.since, q_end = quarter_window(self.rng)
        days = arrival_days(self.corpus, q_end - dt.timedelta(days=6), q_end)
        self.day = days[int(self.rng.integers(len(days)))]
        self.snap = os.path.join(self.work, "standing")
        self.live = os.path.join(self.work, "live")

    def describe(self) -> dict:
        return {"since": str(self.since), "day": str(self.day), "coins": self.n_coins()}

    def _refresh(self, root: str, until) -> object:
        from etl_pipelines_spark.plans.refresh import refresh_warehouse_incremental

        return refresh_warehouse_incremental(
            self.spark,
            self.corpus,
            os.path.join(root, "warehouse"),
            os.path.join(root, "state"),
            since=str(self.since),
            until=str(until),
        )

    def setup(self) -> None:
        report = self._refresh(self.snap, self.day - dt.timedelta(days=1))
        if not report.passed:
            raise RuntimeError("standing warehouse failed its audits")

    def prepare(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.snap, self.live)

    def run(self, traced: bool) -> tuple[int, int]:
        self.t_start = time.time()
        self.report = self._refresh(self.live, self.day)
        ok = self.report.passed and (self.report.affected_coins or 0) > 0
        return 1, 0 if ok else 1

    def layer_counts(self) -> dict:
        return self._refresh_counts(os.path.join(self.live, "warehouse"), self._delta_rows())

    def _delta_rows(self) -> int:
        """Rows of the six tables after the increment that the standing
        warehouse did not hold (a multiset difference)."""
        import duckdb

        con = duckdb.connect()
        try:
            n = 0
            for t in TABLES:
                def scan(root: str) -> str:
                    path = os.path.join(root, "warehouse", t, "**", "*.parquet")
                    return f"SELECT * FROM read_parquet('{path}', hive_partitioning = true)"

                n += con.execute(
                    f"SELECT count(*) FROM ({scan(self.live)} EXCEPT ALL {scan(self.snap)})"
                ).fetchone()[0]
            return n
        finally:
            con.close()

    def check(self) -> tuple[int, int]:
        """The last increment's tables equal, digest for digest, a
        rebuild of the same window."""
        from etl_pipelines_spark.plans.refresh import refresh_warehouse

        ref = os.path.join(self.work, "check-rebuild")
        refresh_warehouse(self.spark, self.corpus, ref, since=str(self.since), until=str(self.day))
        got = table_digests(self.spark, os.path.join(self.live, "warehouse"))
        want = table_digests(self.spark, ref)
        shutil.rmtree(ref, ignore_errors=True)
        bad = [t for t in TABLES if got[t] != want[t]]
        if bad:
            print(f"increment differs from rebuild on {bad}", file=sys.stderr)
        return len(TABLES), len(bad)


class Catalog(Workload):
    """One pass over the 50 `DRIVER_QUERIES` entries in a seed-permuted
    order, `clearCache()` between entries. Each entry's result is
    collected to the driver (`toPandas`), as an ad-hoc caller receives
    it; the first pass's results feed the oracle check. One pass fits
    a run, so that pass is both cold_s and run_s."""

    min_iters = 1
    iterations_traced = 1

    def __init__(self, *a) -> None:
        super().__init__(*a)
        from etl_pipelines_spark.queries import DRIVER_QUERIES

        self.queries = DRIVER_QUERIES
        self.order = list(sorted(DRIVER_QUERIES))
        self.rng.shuffle(self.order)
        self.results: dict = {}
        self.times: dict[str, float] = {}
        self.tracer = None

    def describe(self) -> dict:
        return {"first": self.order[:3]}

    def entry_times(self) -> dict[str, float]:
        return dict(self.times)

    def run(self, traced: bool) -> tuple[int, int]:
        keep = not self.results
        failed = 0
        self.times = {}
        for name in self.order:
            spec = self.queries[name]
            t0 = time.perf_counter()
            try:
                if traced:
                    self._traced_entry(spec)
                else:
                    got = spec.spark_fn(self.spark, self.corpus).toPandas()
                    if keep:
                        self.results[name] = got
            except Exception as e:  # noqa: BLE001 — one entry's failure is counted, the pass goes on
                print(f"{name}: {type(e).__name__}: {e}", file=sys.stderr)
                failed += 1
                if keep:
                    self.results[name] = None
            finally:
                self.spark.catalog.clearCache()
            self.times[name] = time.perf_counter() - t0
        return len(self.order), failed

    def _traced_entry(self, spec) -> None:
        tr = self.tracer
        with tr.span("catalog.build_s"):
            df = spec.spark_fn(self.spark, self.corpus)
        with tr.span("catalog.plan_s"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("catalog.exec_s"):
            df.toPandas()

    def layer_counts(self) -> dict:
        return {f"catalog.{n.split('_')[0]}_s": t for n, t in self.times.items()}

    def check(self) -> tuple[int, int]:
        """Each entry's collected first-pass result against its DuckDB
        oracle twin, with the comparison `tools/check_parity.py` uses
        (row count, columns, exact values; rows only where an entry has
        no oracle)."""
        import duckdb

        from etl_pipelines_spark.sources.registry import TABLES as SOURCES

        compare = _parity_compare()
        con = duckdb.connect()
        failed = 0
        try:
            for t in SOURCES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.corpus, t)}.parquet'"
                )
            for name in self.order:
                got = self.results.get(name)
                if got is None:
                    failed += 1
                    continue
                oracle = self.queries[name].oracle
                if oracle is None:
                    continue
                problems = compare(name, got, con.execute(oracle).df())
                if problems:
                    print(f"{name}: {'; '.join(problems)[:300]}", file=sys.stderr)
                    failed += 1
        finally:
            con.close()
        return len(self.order), failed


def _parity_compare():
    """`compare` from tools/check_parity.py, loaded by path (tools/ is
    not a package)."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_parity", os.path.join(root, "tools", "check_parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


WORKLOADS = {"rebuild": Rebuild, "incremental_day": IncrementalDay, "catalog": Catalog}
