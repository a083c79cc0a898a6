"""Full warehouse refresh — SURVEY.md §3.1 as one Spark driver program.

The reference sequences this through GCP Workflow YAMLs with an HTTP
hop per step (workflows/core_tables_all.yaml) and hand-rolls the
§3.2 profits rebuild through batch fan-out + temp tables. Here the
whole refresh is a single lazy DAG: each curated table is a DataFrame
stage, dependencies are plain data dependencies, Catalyst plans the
lot, and the only materialization points are the partitioned writes.
Post-write, every table runs its dbt-equivalent expectation suite —
the reference's `run_all_tests.sh` topology (build, then audit).
"""

from __future__ import annotations

import os
import threading
import time
import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipelines_spark.expectations import load_expectations, run_expectations
from etl_pipelines_spark.functions.scalars import deterministic_id
from etl_pipelines_spark.operators.dedupe import dedupe_keep_first
from etl_pipelines_spark.operators.merge import upsert_partitions
from etl_pipelines_spark.plans.market_data import daily_prices_from, dense_market_data
from etl_pipelines_spark.plans.reconcile import validate_incremental_load
from etl_pipelines_spark.plans.wallet_profits import wallet_profits_kernel_from
from etl_pipelines_spark.plans.wallet_transfers import transfers_from, with_balance
from etl_pipelines_spark.quality import ExpectationResult
from etl_pipelines_spark.session import run_concurrently
from etl_pipelines_spark.sources.registry import load_table, write_partitioned
from etl_pipelines_spark.streaming.incremental import (
    load_watermark_state,
    save_watermark_state,
)


@dataclass
class RefreshReport:
    tables: dict[str, int] = field(default_factory=dict)  # rows written
    expectations: list[ExpectationResult] = field(default_factory=list)
    # incremental runs only: per-table write-path reconciliation
    # (plans/reconcile.validate_incremental_load report dicts) and the
    # coin count the increment actually touched
    reconcile: dict[str, dict] = field(default_factory=dict)
    affected_coins: int | None = None
    # affected coins caught violating the append-only arrival contract
    # (raw rows at/below their saved high-water mark that the standing
    # table never saw); healed by whole-slice replace, recorded loudly
    backdated_coins: int = 0
    # append-only contract guard strength this run: "full" (per-coin
    # row counts checked), "legacy" (pre-n_rows marks state — the
    # count check is blind for exactly this one run; backdated rows
    # merge via the old marks-only cutoff), or "n/a" (first run /
    # full rebuild: nothing standing to guard)
    guard_mode: str = "n/a"
    # incremental runs: wall seconds per driver stage (dims / pull /
    # guard / each table's merge+audit+reconcile / marks) — where the
    # increment's time actually goes, for the O(churn) accounting
    stage_sec: dict[str, float] = field(default_factory=dict)

    @property
    def passed(self) -> bool:
        return all(r.passed for r in self.expectations) and all(
            r["clean"] for r in self.reconcile.values()
        )


def refresh_warehouse(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    coin_limit: int | None = None,
    since: str | None = None,
    until: str | None = None,
    expectations_path: str | None = None,
) -> RefreshReport:
    """Rebuild the curated layer from the raw testdata star schema:
    coin_market_data (densified daily prices), coin_wallet_transfers
    (running balances), coin_wallet_profits (the §3.2 kernel) — each
    written PARTITION BY date and then audited. `coin_limit` scopes the
    coin universe (the reference's dev_core sandbox pattern,
    dev_core_tables/create_reference_dev_coins.sql).

    The post-write suites come from the DECLARATIVE expectations
    config (expectations.yml, mirroring dbt_dreamsdata/models/
    schema.yml's authoring surface) — adding a constraint to a curated
    table is a config edit; `expectations_path` points tests or
    sandboxes at an alternate ruleset."""
    report = RefreshReport()
    rules = load_expectations(expectations_path)
    built: dict[str, DataFrame] = {}
    # land() mutates shared report/built state from branch threads
    report_lock = threading.Lock()

    def land(name: str, df: DataFrame) -> DataFrame:
        path = os.path.join(out_dir, name)
        write_partitioned(df, path)
        back = spark.read.parquet(path)
        with report_lock:
            built[name] = back
        # row count rides the fused expectations action (one job per
        # table, not one per expectation plus a count)
        res, n = run_expectations(back, name, rules, built, count_rows_of=back)
        with report_lock:
            report.tables[name] = n
            report.expectations.extend(res)
        return back

    scope = _scope_fn(coin_limit, since, until)

    # Independent table FAMILIES run as concurrent branches — the
    # reference's metadata workflow schedules its CoinGecko and
    # GeckoTerminal branches in parallel
    # (workflows/core_coin_facts_metadata.yaml:10-72); here the three
    # independent curated families submit their Spark jobs from three
    # driver threads so small dimension writes overlap the big fact
    # shuffles instead of serializing behind them (job submission is
    # thread-safe; tasks interleave across the executor's free slots).
    # Only coin_facts -> coins is order-sensitive (the referential
    # expectation), and both live INSIDE the dims branch, so
    # cross-branch landing order is free.

    def dims_branch():
        # §3.1 steps 2-4 composed; chains lands beside the
        # coins -> coin_facts chain (only that referential audit is
        # order-sensitive — round 12, §2.6)
        frames = dict(_dim_frames(spark, sf_dir))

        def coins_then_facts():
            land("coins", frames["coins"])
            land("coin_facts", frames["coin_facts"])

        run_concurrently(coins_then_facts, lambda: land("chains", frames["chains"]))

    def market_branch():
        # market data: densify + ffill (D1/D2) over daily prices.
        # shared by the dense rebuild AND the profits kernel:
        # keys-sized after the daily aggregation, so one cached copy
        # serves both
        md = scope(daily_prices_from(load_table(spark, sf_dir, "lineitem"))).persist()
        land("coin_market_data", dense_market_data(md))
        return md

    def transfers_branch():
        # wallet transfers: daily net + running balance (W1/W2)
        x = scope(
            transfers_from(
                load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
            )
        )
        return land("coin_wallet_transfers", with_balance(x))

    _, md, cwt = run_concurrently(dims_branch, market_branch, transfers_branch)

    # 3. wallet profits: the flagship kernel (§3.2 in one job), fed
    # from the LANDED transfers table (the curated lineage: profits
    # derive from the transfers table users see, not a parallel
    # re-derivation of the raw scans) and the shared prices frame.
    # Scope applies to the INPUTS — cumulative metrics accumulate
    # within the refresh window, consistent with the landed balances.
    profits = wallet_profits_kernel_from(
        cwt.select(
            "coin_id", "wallet_address", "date", "net_transfers", "balance"
        ),
        md,
    )
    land("coin_wallet_profits", profits)
    md.unpersist()
    return report


# ------------------------------------------------ shared stage builders


def _scope_fn(coin_limit, since, until):
    def scope(df: DataFrame) -> DataFrame:
        if coin_limit is not None:
            df = df.filter(F.col("coin_id") < coin_limit)
        if since is not None:
            df = df.filter(F.col("date") >= F.lit(since).cast("date"))
        if until is not None:
            df = df.filter(F.col("date") <= F.lit(until).cast("date"))
        return df

    return scope


def _dim_frames(spark: SparkSession, sf_dir: str, li_obs: DataFrame | None = None):
    """The three dimension tables, in build order: chains with alias
    dedupe, coins intake with normalization + data-presence flags,
    facts via full-outer metadata coalesce (J7/P10). Key-grain
    dimension rebuilds — cheap at any scale, so both the full and the
    incremental refresh rebuild them whole (the reference's daily dim
    rebuild discipline).

    `li_obs` injects the per-coin lineitem observations (coin_id,
    first_seen, n_suppliers) — the incremental driver maintains them
    O(churn) from the standing coin_facts table instead of re-running
    the full-stream countDistinct aggregation every day."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    chains = dedupe_keep_first(
        nation.join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        ).select(
            F.col("n_nationkey").alias("chain_id"),
            F.lower("n_name").alias("chain"),  # P3 normalization
            F.lower("r_name").alias("chain_group"),
        ),
        ["chain"],
        [F.col("chain_id").asc()],  # A6 alias dedupe, keep-first
    )

    part = load_table(spark, sf_dir, "part")
    # ONE lineitem aggregation serves both lineitem-derived dims: the
    # coins presence flag (membership) AND the facts observations
    # (first_seen, n_suppliers) — previously a distinct + a groupBy,
    # two full scans and two shuffles of the fact stream per refresh
    if li_obs is None:
        li_obs = (
            load_table(spark, sf_dir, "lineitem")
            .groupBy(F.col("l_partkey").alias("coin_id"))
            .agg(
                F.min(F.to_date("l_shipdate")).alias("first_seen"),
                F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
            )
            # coin-grain after the agg: materialize once, both
            # consumers (presence flag, facts) read the pinned copy
            .localCheckpoint(eager=True)
        )
    coins = (
        part.select(
            F.col("p_partkey").alias("coin_id"),
            F.lower("p_name").alias("name"),
            F.lower("p_brand").alias("brand"),
            deterministic_id("p_partkey", "p_brand").alias("coingecko_id"),
        )
        # J6 semi-join presence flag, the has_market_data rebuild
        .join(
            li_obs.select("coin_id", F.lit(True).alias("_seen")),
            "coin_id",
            "left",
        )
        .withColumn("has_market_data", F.coalesce("_seen", F.lit(False)))
        .drop("_seen")
    )

    # facts: source A (part attributes) ⟗ source B (lineitem-derived
    # observations) with COALESCE cascades — core_coin_facts_metadata
    src_a = part.select(
        F.col("p_partkey").alias("coin_id"),
        F.col("p_type").alias("category"),
        F.col("p_retailprice").cast("double").alias("list_price"),
    )
    src_b = li_obs
    facts = (
        src_a.alias("a")
        .join(src_b.alias("b"), "coin_id", "full_outer")
        .select(
            "coin_id",
            F.coalesce(F.col("category"), F.lit("unknown")).alias("category"),
            F.coalesce(F.col("list_price"), F.lit(0.0)).alias("list_price"),
            "first_seen",
            F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
        )
    )
    return [("chains", chains), ("coins", coins), ("coin_facts", facts)]


def _horizon_tails(
    standing: DataFrame, affected: DataFrame, horizon, prev_horizon=None
) -> DataFrame:
    """Last standing row per UNAFFECTED coin whose dense series stops
    short of the new global `horizon` — the coins a full rebuild would
    extend (ffill to global max) but the affected-slice recompute never
    touches.

    With `prev_horizon` (the standing table's own horizon, = the max
    saved high-water mark) the read is a PARTITION PRUNE, not a
    groupBy: a densified table fills every coin to the global max, so
    each coin's last row lives in the single date=prev_horizon
    partition — one partition scanned, zero shuffle, O(coins) rows out
    regardless of table size. Without it (state lost), fall back to
    the full struct-max aggregation (no max_by-per-column null
    hazards)."""
    if prev_horizon is not None:
        return (
            standing.filter(F.col("date") == F.lit(prev_horizon))
            .join(F.broadcast(affected), "coin_id", "left_anti")
            .select(
                "coin_id",
                F.col("date").alias("_maxd"),
                F.col("price").alias("_price"),
                F.col("days_imputed").alias("_days"),
            )
            .filter(F.col("_maxd") < F.lit(horizon))
        )
    return (
        standing.join(F.broadcast(affected), "coin_id", "left_anti")
        .groupBy("coin_id")
        .agg(F.max(F.struct("date", "price", "days_imputed")).alias("_last"))
        .select(
            "coin_id",
            F.col("_last.date").alias("_maxd"),
            F.col("_last.price").alias("_price"),
            F.col("_last.days_imputed").alias("_days"),
        )
        .filter(F.col("_maxd") < F.lit(horizon))
    )


def _horizon_extension(tails: DataFrame, horizon) -> DataFrame:
    """Pure-ffill extension rows (standing_max, horizon] for the
    `_horizon_tails` coins: price carries forward, days_imputed
    continues the standing imputation streak (a real last row starts a
    fresh 1,2,... streak — exactly what the full rebuild's
    gaps-and-islands counter produces). O(trailing coins × horizon
    advance), no history recompute."""
    return (
        tails.withColumn(
            "date",
            F.explode(
                F.sequence(F.date_add("_maxd", 1), F.lit(horizon).cast("date"))
            ),
        )
        .select(
            "coin_id",
            "date",
            F.col("_price").alias("price"),
            (F.coalesce("_days", F.lit(0)) + F.datediff("date", "_maxd"))
            .cast("long")
            .alias("days_imputed"),
        )
    )


# ------------------------------------------- incremental refresh driver


def refresh_warehouse_incremental(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    state_dir: str,
    coin_limit: int | None = None,
    since: str | None = None,
    until: str | None = None,
    expectations_path: str | None = None,
) -> RefreshReport:
    """The reference's STEADY-STATE mode as one driver: pull -> merge
    -> audit -> reconcile, per table in build order. Re-running
    `workflows/core_tables_all.yaml` lands only new data — high-water-
    mark pulls (retrieve_dune_transfer_data.py:127-147), date-array
    diffs (coingecko_market_data.py:138-158) — and this composes the
    engine's pieces the same way, with every per-run cost either
    O(churn) or a single cheap pass over the raw arrival stream:

    1. ARRIVAL STATS — ONE raw-grain aggregation (per coin: max date,
       total rows, rows at/below the saved mark) serves four jobs that
       used to be separate scans: delta discovery (affected = any coin
       whose row count moved), the append-only-contract guard, the
       densify horizon (global max), and the new watermark state. No
       daily aggregation runs over unaffected coins — the heavy
       (coin, date) / (coin, wallet, date) aggregations are applied
       AFTER the affected-coin filter, pushed below the groupBy
       (filters on grouping keys commute with the aggregation).
    2. GUARD  — the state carries per-coin ROW COUNTS alongside the
       marks. A marked coin whose at/below-mark count GREW saw a
       backdated arrival: the delta-merge soundness argument (history
       at/below the mark is bit-identical to the recompute) collapses
       for it, so it is healed by WHOLE-SLICE REPLACE (marks stripped,
       the full recomputed slice merges — sound because the recompute
       keys are a superset of standing keys under appends), warned
       loudly, and counted in report.backdated_coins. A coin whose
       count SHRANK (or vanished) lost history — a deletion no
       key-replace merge can heal (stale curated keys would survive) —
       and the run FAILS with the coin list. Counting at the raw-row
       grain also catches a backdated row landing on an EXISTING
       (coin, date) key, which the previous standing-table key
       comparison was blind to; the remaining blind spot is an
       in-place value mutation of an existing raw row (a mutation, not
       an append — tablediff covers it offline).
    3. MERGE  — affected coins recompute over their FULL history (the
       cumulative-column requirement), but only DELTA rows — date at
       or past the coin's FIRST NEW ARRIVAL (rows strictly between the
       old mark and the first new arrival are ffill-determined by data
       at/below the mark, hence bit-identical in standing; the cutoff
       is least(first_new - 1, prev_horizon) so a quiet coin rejoining
       after the horizon advanced still fills its ffill gap) — merge,
       through `upsert_partitions` (touched date partitions only,
       statically pruned). Profits shares the same cutoff: its first
       changed row sits at the first new arrival of EITHER input
       stream (the least-of-streams by construction here, where both
       feeds share the raw arrival grain). coin_market_data
       additionally honors the DENSIFY HORIZON: affected
       coins fill to the true global max date, and unaffected coins
       trailing an advanced horizon get pure ffill extension rows.
       The extension source (each unaffected coin's last standing row)
       is read by PARTITION PRUNE: a densified table fills every coin
       to the previous horizon, so the last row per coin lives in the
       single date=prev_horizon partition — no full-table groupBy.
    4. AUDIT  — each declared expectation suite runs over the
       AFFECTED-COIN slice (those coins' full history, so windowed
       checks — date gaps, monotone cumsums — stay meaningful), not
       the whole standing table. Sound by induction: untouched
       coins' rows passed the same suites when they landed, the merge
       rewrites only touched partitions, and the reconcile +
       horizon-reconcile prove the touched partitions
       landed exactly the recomputed/extension rows (the extension is
       seam-gap-free by construction: it starts at prev_horizon + 1).
       Every declared check is per-key (coin / coin+wallet), so a
       slice suite checks exactly the rows whose inputs changed. (A
       first run audits whole tables: nothing stood before it.)
    5. RECONCILE — `validate_incremental_load` proves each table's
       landed delta equals the recomputed delta (key diff + order-
       independent digest). Probe scans are partition-pruned by
       date >= min(affected coins' first new arrivals) — every delta
       row is at/past its own coin's first new arrival, so the bound
       is a safe superset (skipped whenever any affected coin is
       unmarked or healed).

    Watermark state (coin_id, hwm, n_rows) advances ONLY after the
    tables it covers are written and reconciled — a failed run replays
    its pull (at-least-once; the coin-grain merge makes the replay
    idempotent). N incremental runs == one full rebuild,
    digest-for-digest — under UNEVEN per-coin arrival, including a
    horizon advance carried only by a coin subset, and under a
    backdated-arrival heal — is pinned in test_refresh.py.

    Dimensions (chains/coins/coin_facts) rebuild whole each run —
    key-grain tables, the reference's daily dim rebuild discipline.
    """
    report = RefreshReport()
    rules = load_expectations(expectations_path)
    built: dict[str, DataFrame] = {}
    _t0 = time.time()
    # table-family branches run from concurrent driver threads (the
    # rebuild's shape since round 11); report/built mutations lock
    report_lock = threading.Lock()

    def tick(label: str) -> None:
        nonlocal _t0
        now = time.time()
        report.stage_sec[label] = round(now - _t0, 2)
        _t0 = now

    def audit(name: str, back: DataFrame, slice_df: DataFrame | None = None) -> None:
        with report_lock:
            built[name] = back  # referential parents resolve to full tables
        if slice_df is None:
            # full-table row count rides the fused expectations action
            res, n = run_expectations(back, name, rules, built, count_rows_of=back)
            with report_lock:
                report.tables[name] = n
                report.expectations.extend(res)
            return
        # churn-sized slice: materialize ONCE so the suite's checks
        # (branches of one fused counts job) read the cache, not N
        # table scans; the FULL table's row count rides that same job
        slice_df = slice_df.persist()
        slice_df.count()
        res, n = run_expectations(
            slice_df, name, rules, built, count_rows_of=back
        )
        with report_lock:
            report.tables[name] = n
            report.expectations.extend(res)
        slice_df.unpersist()

    # ---- ARRIVAL STATS: one raw-grain pass serves delta discovery,
    # the contract guard, the densify horizon, and the new marks.
    rd = F.to_date("l_shipdate")
    li_sc = load_table(spark, sf_dir, "lineitem")
    if coin_limit is not None:
        li_sc = li_sc.filter(F.col("l_partkey") < coin_limit)
    if since is not None:
        li_sc = li_sc.filter(rd >= F.lit(since).cast("date"))
    if until is not None:
        li_sc = li_sc.filter(rd <= F.lit(until).cast("date"))

    md_state = os.path.join(state_dir, "hwm_prices")
    x_state = os.path.join(state_dir, "hwm_transfers")
    old_md = load_watermark_state(spark, md_state)
    first_run = old_md is None

    old = old_md
    if old is not None and "n_rows" not in old.columns:
        # legacy marks-only state: the delta still works off the marks,
        # the count guard just cannot see backdated rows this one run —
        # surfaced on the report (guard_mode) AND warned, so operators
        # know exactly which run lacked the contract check instead of
        # finding a code comment after the fact
        old = old.withColumn("n_rows", F.lit(None).cast("long"))
        report.guard_mode = "legacy"
        warnings.warn(
            "incremental refresh: watermark state predates per-coin row "
            "counts (marks-only); the append-only contract guard is "
            "DEGRADED for this one run — backdated arrivals at/below "
            "the old marks merge unverified. State is rewritten with "
            "counts at the end of this run; the next run guards fully.",
            stacklevel=2,
        )
    elif old is not None:
        report.guard_mode = "full"

    ev = li_sc.select(F.col("l_partkey").alias("coin_id"), rd.alias("_d"))
    if old is not None:
        ev = ev.join(F.broadcast(old.select("coin_id", "hwm", "n_rows")), "coin_id", "left")
    else:
        ev = ev.withColumn("hwm", F.lit(None).cast("date")).withColumn(
            "n_rows", F.lit(None).cast("long")
        )
    stats = (
        ev.groupBy("coin_id")
        .agg(
            F.max("_d").alias("_new_hwm"),
            F.count(F.lit(1)).alias("_n_total"),
            F.sum((F.col("_d") <= F.col("hwm")).cast("long")).alias("_n_below"),
            F.min(F.when(F.col("_d") > F.col("hwm"), F.col("_d"))).alias("_first_new"),
            F.first("hwm").alias("hwm"),
            F.first("n_rows").alias("_n_saved"),
        )
        # coin-grain: every consumer below reads this, not the raw scan
        .localCheckpoint(eager=True)
    )
    marked = F.col("hwm").isNotNull()
    has_new = (
        F.when(~marked, F.lit(True))
        .when(
            F.col("_n_saved").isNotNull(),
            F.col("_n_total") != F.col("_n_saved"),
        )
        .otherwise(F.col("_new_hwm") > F.col("hwm"))
    )
    counted = F.col("_n_saved").isNotNull()
    viol_cond = marked & counted & (
        F.coalesce("_n_below", F.lit(0)) != F.col("_n_saved")
    )
    # ONE driver round-trip over the coin-grain stats serves every
    # scalar the run needs: horizons, the affected count, both guard
    # counters, and the reconcile-probe cutoff inputs. Each of these
    # was its own Spark job before — on a one-day increment the
    # per-job scheduling floor, not the work, dominated the run.
    srow = stats.agg(
        F.max("_new_hwm").alias("_h"),
        F.max("hwm").alias("_p"),
        F.sum(has_new.cast("long")).alias("_n_aff"),
        F.sum(viol_cond.cast("long")).alias("_n_viol"),
        F.sum(
            (
                marked & counted
                & (F.coalesce("_n_below", F.lit(0)) < F.col("_n_saved"))
            ).cast("long")
        ).alias("_n_shrunk"),
        F.sum(marked.cast("long")).alias("_n_marked"),
        # probe-cutoff inputs over CLEAN coins (viol coins heal by
        # whole-slice replace and void the static cutoff; that rare
        # path recomputes below)
        F.min(
            F.when(marked & F.col("_first_new").isNotNull(), F.date_sub("_first_new", 1))
        ).alias("_min_cut"),
        F.sum(
            (has_new & ~(marked & F.col("_first_new").isNotNull())).cast("long")
        ).alias("_n_uncut"),
    ).first()
    horizon, prev_horizon = srow["_h"], srow["_p"]
    n_affected = int(srow["_n_aff"] or 0)
    report.affected_coins = n_affected
    affected = stats.filter(has_new).select("coin_id").localCheckpoint(eager=True)
    tick("pull")

    def touch(df: DataFrame) -> DataFrame:
        return df.join(F.broadcast(affected), "coin_id")

    # ---- APPEND-ONLY CONTRACT GUARD (docstring step 2). The clean-run
    # path (every steady-state day) pays ZERO extra jobs: the violation
    # counters rode the consolidated stats aggregation above, and the
    # detail collections below only run when a counter fires. A coin
    # that vanished from the arrival stream entirely (all its rows
    # deleted) is invisible to per-coin counters — it is caught by
    # comparing the marked-coin count against the saved state's count.
    n_gone = int(srow["_n_shrunk"] or 0)
    if old is not None and n_gone == 0:
        n_old = old.count()  # tiny coin-grain state frame
        if int(srow["_n_marked"] or 0) < n_old:
            n_gone = n_old - int(srow["_n_marked"] or 0)
    if n_gone:
        viol_detail = stats.filter(viol_cond).select(
            "coin_id",
            F.coalesce("_n_below", F.lit(0)).alias("_nb"),
            F.col("_n_saved").alias("_ns"),
        )
        gone = [
            r["coin_id"]
            for r in viol_detail.filter(F.col("_nb") < F.col("_ns")).limit(20).collect()
        ]
        if old is not None:
            gone += [
                r["coin_id"]
                for r in old.join(stats, "coin_id", "left_anti").limit(20).collect()
            ]
        raise ValueError(
            "incremental refresh: raw rows at/below the saved high-water "
            f"mark DISAPPEARED for coin(s) {sorted(gone)} — the arrival "
            "stream lost or mutated history; a key-replace merge cannot "
            "heal a deletion (stale curated keys would survive). Rebuild "
            "with refresh_warehouse or restore the source."
        )
    report.backdated_coins = int(srow["_n_viol"] or 0)
    bad = None
    if report.backdated_coins:
        bad = stats.filter(viol_cond).select("coin_id").localCheckpoint(eager=True)
        warnings.warn(
            f"incremental refresh: {report.backdated_coins} coin(s) "
            "violated the append-only arrival contract (raw rows "
            "appeared at/below their saved high-water mark); falling "
            "back to whole-slice replace for those coins",
            stacklevel=2,
        )

    # ---- PER-COIN DELTA CUTOFFS. Sound bound: rows strictly between
    # a coin's old mark and its FIRST NEW ARRIVAL are ffill-determined
    # by data at/below the mark (a later real row changes nothing
    # before itself: prices carry forward, imputation streaks continue,
    # cumsums see no new events), so they are bit-identical in standing
    # and rewriting them is pure waste. The first row that CAN differ
    # sits AT the first new arrival — for every curated table,
    # including profits (a new price at an old transfer day mints its
    # profits row at that price's date, which IS a first-new arrival in
    # the union stream; with physically separate price/transfer feeds
    # this would be the LEAST of the two streams' first arrivals).
    # Coins without a mark (first seen) and healed backdated coins
    # carry no cutoff row: their whole recomputed slice merges.
    cuts = None
    if not first_run:
        # LEAST with the standing horizon: an affected coin's standing
        # series only reaches prev_horizon — if its first new arrival
        # lands beyond that (a quiet coin rejoining after the horizon
        # moved on), the ffill rows in (prev_horizon, first_new) exist
        # NOWHERE yet and must be part of its delta, or the dense
        # series gaps (caught by the churn-slice no_date_gaps audit)
        cuts = stats.filter(
            marked & F.col("_first_new").isNotNull()
        ).select(
            "coin_id",
            F.least(
                F.date_sub("_first_new", 1), F.lit(prev_horizon)
            ).alias("hwm"),
        )
        if report.backdated_coins:
            cuts = cuts.join(F.broadcast(bad), "coin_id", "left_anti")
        # coin-grain: three delta filters and four probes read this
        cuts = cuts.localCheckpoint(eager=True)
    tick("guard")

    # reconcile-probe static cutoff, from the consolidated aggregation
    # on the clean path (zero extra jobs); recomputed dynamically only
    # on the rare healed-backdated run, where `cuts` excludes coins
    _static_cut = None
    if (
        cuts is not None
        and not report.backdated_coins
        and int(srow["_n_uncut"] or 0) == 0
        and srow["_min_cut"] is not None
    ):
        _static_cut = min(
            d for d in (srow["_min_cut"], prev_horizon) if d is not None
        )

    # ---- DIMS: key-grain rebuild each run (the reference's daily dim
    # discipline), but the lineitem-derived observations (first_seen,
    # n_suppliers, presence) maintain O(churn) on steady-state runs:
    # unaffected coins' rows are unchanged (the guard just proved it),
    # so their observations read back off the STANDING coin_facts
    # table; only affected coins re-aggregate — from the UNSCOPED raw
    # stream, because dims deliberately see the whole history. The
    # main guard, however, only watches the SCOPED stream: under a
    # since/until/coin_limit sandbox scope an out-of-scope arrival for
    # an "unaffected" coin would silently stale its first_seen/
    # n_suppliers. The dim stream therefore keeps its OWN change
    # detector: in unscoped runs the main guard covers it (guard
    # stream == dim stream, dims_affected = affected); in scoped runs
    # a per-coin UNSCOPED row count (a cheap map-side-combined agg,
    # not the countDistinct the full rebuild pays) diffs against the
    # saved dims_counts state — under the append-only contract any
    # change to a coin's unscoped row set changes its count, so
    # count-equal coins provably have unchanged observations. First
    # scoped run after upgrade (no dims_counts state) falls back to
    # the full aggregation once, then maintains O(churn).
    scoped = since is not None or until is not None or coin_limit is not None
    facts_path = os.path.join(out_dir, "coin_facts")
    dims_state = os.path.join(state_dir, "dims_counts")
    new_dim_counts = None
    if scoped:
        # computed on EVERY scoped run (including the first, so the
        # baseline exists as soon as the dims it describes do): a
        # map-side-combined per-coin count, far cheaper than the
        # countDistinct the full dim aggregation pays
        new_dim_counts = (
            load_table(spark, sf_dir, "lineitem")
            .groupBy(F.col("l_partkey").alias("coin_id"))
            .agg(F.count(F.lit(1)).alias("n_rows_all"))
            .localCheckpoint(eager=True)
        )

    def dims_branch() -> None:
        """Key-grain dim rebuild (write + audit), O(churn) observation
        maintenance — the DIMS table family, independent of the fact
        families so it runs as its own concurrent branch (the rebuild's
        shape; job descriptions are thread-local)."""
        _bt = time.time()
        spark.sparkContext.setJobDescription("incremental refresh: dims")
        li_obs = None
        dims_affected = None
        if not first_run and os.path.exists(facts_path):
            if not scoped:
                dims_affected = affected if n_affected else False
            else:
                old_counts = load_watermark_state(spark, dims_state)
                if old_counts is not None:
                    dims_affected = (
                        new_dim_counts.join(
                            old_counts.withColumnRenamed("n_rows_all", "_old"),
                            "coin_id",
                            "left",
                        )
                        .filter(
                            F.col("_old").isNull()
                            | (F.col("n_rows_all") != F.col("_old"))
                        )
                        .select("coin_id")
                        .localCheckpoint(eager=True)
                    )
        if dims_affected is False:
            # unscoped steady-state run with zero arrivals: standing
            # observations are proven current — reuse them wholesale
            prev_facts = spark.read.parquet(facts_path)
            li_obs = prev_facts.filter(F.col("first_seen").isNotNull()).select(
                "coin_id", "first_seen", "n_suppliers"
            )
        elif dims_affected is not None:
            prev_facts = spark.read.parquet(facts_path)
            aff_obs = (
                load_table(spark, sf_dir, "lineitem")
                .join(
                    F.broadcast(dims_affected.select(F.col("coin_id").alias("l_partkey"))),
                    "l_partkey",
                )
                .groupBy(F.col("l_partkey").alias("coin_id"))
                .agg(
                    F.min(F.to_date("l_shipdate")).alias("first_seen"),
                    F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
                )
            )
            # first_seen null <=> coin absent from lineitem (shipdate is
            # never null), so it is the membership flag of the standing row
            unaff_obs = (
                prev_facts.filter(F.col("first_seen").isNotNull())
                .join(F.broadcast(dims_affected), "coin_id", "left_anti")
                .select("coin_id", "first_seen", "n_suppliers")
            )
            li_obs = unaff_obs.unionByName(aff_obs).localCheckpoint(eager=True)
        frames = dict(_dim_frames(spark, sf_dir, li_obs=li_obs))

        def build_dim(name: str) -> None:
            spark.sparkContext.setJobDescription(
                f"incremental refresh: dims/{name}"
            )
            path = os.path.join(out_dir, name)
            write_partitioned(frames[name], path)
            audit(name, spark.read.parquet(path))

        # the three dim tables are independent writes; only the
        # coin_facts -> coins referential audit is order-sensitive, so
        # chains runs beside the coins -> coin_facts chain (round 12,
        # §2.6 — the serial write+audit loop was three fixed-floor
        # pairs back to back on a key-grain increment)
        def coins_then_facts():
            build_dim("coins")
            build_dim("coin_facts")

        run_concurrently(coins_then_facts, lambda: build_dim("chains"))
        with report_lock:
            report.stage_sec["dims"] = round(time.time() - _bt, 2)

    def after_hwm(df: DataFrame, hwm: DataFrame | None) -> DataFrame:
        """Rows strictly past their coin's cutoff (first new arrival
        minus one day) — the merge delta. Coins without a cutoff row
        (first seen this run, or healed backdated) pass whole."""
        if hwm is None:
            return df
        j = df.join(F.broadcast(hwm), "coin_id", "left")
        return j.filter(
            F.col("hwm").isNull() | (F.col("date") > F.col("hwm"))
        ).drop("hwm")

    def probe_cutoff(hwm: DataFrame | None):
        """Static date lower bound for reconcile-probe scans: every
        delta row is at/past its own coin's first new arrival, so
        date > min(cutoffs) is a safe superset — and a literal the
        date-partitioned scan prunes on. None (no pruning) when any
        affected coin carries no cutoff row (first-seen or healed:
        its whole slice is delta)."""
        if hwm is None:
            return None
        if not report.backdated_coins:
            # clean run: the scalar rode the stats aggregation
            return _static_cut
        r = (
            affected.join(hwm, "coin_id", "left")
            .agg(
                F.min("hwm").alias("_m"),
                F.sum(F.col("hwm").isNull().cast("int")).alias("_u"),
            )
            .first()
        )
        return r["_m"] if r["_u"] == 0 else None

    def pruned(df: DataFrame, cut) -> DataFrame:
        return df.filter(F.col("date") > F.lit(cut)) if cut is not None else df

    churn_audit = not first_run

    def merge_and_check(
        name: str,
        delta_df: DataFrame,
        keys: list[str],
        probe,
        audit_slice=None,
    ) -> DataFrame:
        """Merge the delta rows (touched date partitions only), audit
        the post-merge table (slice-scoped under churn audits), and
        reconcile the landed delta against the recomputation.

        On the MERGE path the delta is localCheckpointed first: the
        merge reads it four times (touched dates, replace keys, the
        union) and the reconcile twice more — five evaluations of a
        windowed-recompute plan was the dominant cost of the whole
        increment before this. Churn-sized, so executor storage holds
        it. On the FIRST run the "delta" is the whole corpus —
        checkpointing tens of millions of rows OOMs the heap for zero
        benefit — so it writes directly."""
        path = os.path.join(out_dir, name)
        if os.path.exists(path):
            delta_df = delta_df.localCheckpoint(eager=True)
            upsert_partitions(spark, path, delta_df, keys)
        else:  # first run: the delta IS the corpus — write, don't cache
            write_partitioned(delta_df, path)
        back = spark.read.parquet(path)
        # audit and reconcile are independent consumers of the landed
        # table — overlap their fixed-floor actions (round 12, §2.6:
        # they were two serial jobs per fact table on the one-day
        # increment's critical path)
        rec, _ = run_concurrently(
            lambda: validate_incremental_load(
                delta_df, probe(back), keys, cache=not first_run
            ),
            lambda: audit(name, back, audit_slice(back) if audit_slice else None),
        )
        with report_lock:
            report.reconcile[name] = rec
        return back

    if n_affected == 0:
        # nothing new anywhere: rebuild dims (key-grain discipline),
        # audit the standing fact tables, and return
        dims_branch()
        for name in ("coin_market_data", "coin_wallet_transfers", "coin_wallet_profits"):
            path = os.path.join(out_dir, name)
            if os.path.exists(path):
                audit(name, spark.read.parquet(path))
        if new_dim_counts is not None:
            # dims may still have churned on out-of-scope arrivals;
            # they just landed above — advance their count baseline
            save_watermark_state(new_dim_counts, dims_state)
        return report

    # ---- MERGE + AUDIT + RECONCILE: the three independent table
    # FAMILIES (dims; coin_market_data; coin_wallet_transfers ->
    # coin_wallet_profits) run as concurrent driver branches, the same
    # shape as the full rebuild — on a one-day increment the per-job
    # scheduling floor dominates, so overlapping the families' fixed-
    # floor jobs (merge reads, audits, reconcile probes) is most of the
    # win. Ordering that carries STATE stays inside one branch:
    # profits reads the LANDED transfers table (its own branch, after
    # the cwt merge) and the shared md_aff cache (primed by the market
    # branch; an Event hands it over). The affected-coin filter lands
    # on the RAW scan, below the heavy daily aggregations (filters on
    # grouping keys commute): the (coin, date) and (coin, wallet, date)
    # aggs only ever see churn.
    if first_run:
        li_aff = li_sc
    else:
        li_aff = li_sc.join(
            F.broadcast(affected.select(F.col("coin_id").alias("l_partkey"))),
            "l_partkey",
        )
    # shared by the dense rebuild and the profits kernel; churn-sized
    md_aff = daily_prices_from(li_aff).persist()
    md_ready = threading.Event()
    # probe-cutoff scalar: both fact branches' reconcile probes read it
    md_cut = probe_cutoff(cuts)
    cmd_path = os.path.join(out_dir, "coin_market_data")

    def market_branch() -> None:
        _bt = time.time()
        spark.sparkContext.setJobDescription("incremental refresh: market data")
        try:
            md_aff.count()  # prime the shared cache once
        finally:
            md_ready.set()  # never strand the profits branch
        # coin_market_data: the one densified table — docstring step 3
        dense_aff = dense_market_data(md_aff, end_date=horizon)
        dense_delta = after_hwm(dense_aff, cuts)
        if cuts is not None and os.path.exists(cmd_path):
            # materialized once: merge + reconcile read it five times;
            # churn-sized only on the merge path — a first run's
            # corpus-sized "delta" writes straight to parquet instead
            dense_delta = dense_delta.localCheckpoint(eager=True)
        tails = None
        ext = None
        if os.path.exists(cmd_path):
            standing_cmd = spark.read.parquet(cmd_path)
            if prev_horizon is None or prev_horizon < horizon:
                # checkpoint BEFORE the rewrite: the extension plan must
                # not lazily re-read files the merge is about to replace
                tails = _horizon_tails(
                    standing_cmd, affected, horizon, prev_horizon
                ).localCheckpoint(eager=True)
                ext = (
                    _horizon_extension(tails, horizon) if tails.count() else None
                )
            update = (
                dense_delta.unionByName(ext) if ext is not None else dense_delta
            )
            # (coin_id, date) keys: replace-per-day. The delta covers
            # every row that can differ from standing (real new days,
            # recomputed imputed days past the mark, horizon fills), and
            # the standing imputed rows it replaces sit at the same
            # (coin, date) keys.
            upsert_partitions(spark, cmd_path, update, ["coin_id", "date"])
        else:
            # first run: no marks, so the delta IS the corpus
            write_partitioned(dense_delta, cmd_path)
        cmd_back = spark.read.parquet(cmd_path)
        # audit, delta reconcile, and horizon reconcile are independent
        # consumers of the landed table — overlap their fixed-floor
        # actions (round 12, §2.6, same shape as merge_and_check).
        # dense_delta == dense_aff on the first run (no marks yet), so
        # one expression serves both paths; the probe mirrors the cutoff
        rec, _ = run_concurrently(
            lambda: validate_incremental_load(
                dense_delta,
                after_hwm(touch(pruned(cmd_back, md_cut)), cuts),
                ["coin_id", "date"],
                cache=not first_run,
            ),
            lambda: audit(
                "coin_market_data",
                cmd_back,
                touch(cmd_back) if churn_audit else None,
            ),
        )
        with report_lock:
            report.reconcile["coin_market_data"] = rec
        if ext is not None:
            base = pruned(cmd_back, prev_horizon)
            ext_loaded = (
                base.join(
                    F.broadcast(tails.select("coin_id", "_maxd")), "coin_id"
                )
                .filter(F.col("date") > F.col("_maxd"))
                .drop("_maxd")
            )
            rec_h = validate_incremental_load(
                ext, ext_loaded, ["coin_id", "date"], cache=True
            )
            with report_lock:
                report.reconcile["coin_market_data_horizon"] = rec_h
        with report_lock:
            report.stage_sec["coin_market_data"] = round(time.time() - _bt, 2)

    def transfers_branch() -> None:
        _bt = time.time()
        spark.sparkContext.setJobDescription("incremental refresh: transfers")
        x_aff = transfers_from(li_aff, load_table(spark, sf_dir, "orders"))
        cwt_back = merge_and_check(
            "coin_wallet_transfers",
            after_hwm(with_balance(x_aff), cuts),
            ["coin_id", "wallet_address", "date"],
            probe=lambda back: after_hwm(touch(pruned(back, md_cut)), cuts),
            audit_slice=(lambda back: touch(back)) if churn_audit else None,
        )
        with report_lock:
            report.stage_sec["coin_wallet_transfers"] = round(time.time() - _bt, 2)
        # profits can gain/change rows anywhere from the first new
        # arrival of EITHER input (price or transfer) — the same
        # first-new cutoff, least-of-streams by construction (docstring
        # note above); fed from the LANDED transfers table (curated
        # lineage: profits derive from the table users see), filtered
        # to affected coins. Waits for the market branch's cache prime
        # so the kernel reads md_aff hot instead of racing to fill it.
        _bt = time.time()
        md_ready.wait()
        spark.sparkContext.setJobDescription("incremental refresh: profits")
        profits = wallet_profits_kernel_from(
            touch(cwt_back).select(
                "coin_id", "wallet_address", "date", "net_transfers", "balance"
            ),
            md_aff,
        )
        merge_and_check(
            "coin_wallet_profits",
            after_hwm(profits, cuts),
            ["coin_id", "wallet_address", "date"],
            probe=lambda back: after_hwm(touch(pruned(back, md_cut)), cuts),
            audit_slice=(lambda back: touch(back)) if churn_audit else None,
        )
        with report_lock:
            report.stage_sec["coin_wallet_profits"] = round(time.time() - _bt, 2)

    run_concurrently(dims_branch, market_branch, transfers_branch)
    md_aff.unpersist()
    _t0 = time.time()

    # ---- advance watermarks LAST (state reflects only landed work).
    # Both streams key on the same raw arrival grain in this corpus, so
    # one stats frame feeds both state surfaces (the reference keeps
    # separate price/transfer freshness; so does the API here).
    new_state = stats.select(
        "coin_id",
        F.col("_new_hwm").alias("hwm"),
        F.col("_n_total").alias("n_rows"),
    )
    save_watermark_state(new_state, md_state)
    save_watermark_state(new_state, x_state)
    if new_dim_counts is not None:
        # scoped runs: advance the unscoped per-coin count baseline the
        # dim change detector diffs against (state after landed work)
        save_watermark_state(new_dim_counts, dims_state)
    tick("marks")
    return report
