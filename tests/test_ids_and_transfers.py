"""Stable-ID issuance (M1) and wallet-transfers plan stage tests."""

import datetime as dt

from pyspark.sql import functions as F

from etl_pipelines_spark.operators.ids import dense_global_ids, issue_new_ids
from etl_pipelines_spark.plans.wallet_transfers import normalize_addresses

D = dt.date


class TestDenseGlobalIds:
    def test_dense_ordered_by_key(self, spark):
        keys = spark.createDataFrame([("c",), ("a",), ("b",)], "k string")
        got = {
            r["k"]: r["id"] for r in dense_global_ids(keys, "k", "id").collect()
        }
        assert got == {"a": 1, "b": 2, "c": 3}

    def test_offset_applied(self, spark):
        keys = spark.createDataFrame([("x",), ("y",)], "k string")
        got = sorted(
            r["id"] for r in dense_global_ids(keys, "k", "id", offset=100).collect()
        )
        assert got == [101, 102]

    def test_dense_at_scale_no_holes(self, spark):
        keys = spark.range(0, 5000).select(
            F.concat(F.lit("k"), F.format_string("%05d", "id")).alias("k")
        )
        ids = dense_global_ids(keys, "k", "id")
        stats = ids.agg(
            F.min("id").alias("lo"), F.max("id").alias("hi"), F.countDistinct("id").alias("n")
        ).first()
        assert (stats["lo"], stats["hi"], stats["n"]) == (1, 5000, 5000)

    def test_deterministic_across_runs(self, spark):
        keys = spark.createDataFrame([(f"k{i}",) for i in range(200)], "k string")
        a = {r["k"]: r["id"] for r in dense_global_ids(keys, "k", "id").collect()}
        b = {
            r["k"]: r["id"]
            for r in dense_global_ids(keys.repartition(7), "k", "id").collect()
        }
        assert a == b  # partition layout must not affect ids


class TestIssueNewIds:
    def test_append_only_after_max_existing(self, spark):
        existing = spark.createDataFrame(
            [("w1", 1), ("w2", 2), ("w3", 7)], "wallet string, wallet_id long"
        )
        cands = spark.createDataFrame(
            [("w2",), ("w_new_b",), ("w_new_a",)], "wallet string"
        )
        new = {
            r["wallet"]: r["wallet_id"]
            for r in issue_new_ids(existing, cands, "wallet", "wallet_id").collect()
        }
        # only unseen keys, numbered densely after max existing (7)
        assert new == {"w_new_a": 8, "w_new_b": 9}

    def test_base_offset_for_empty_existing(self, spark):
        existing = spark.createDataFrame([], "pair string, pair_id long")
        cands = spark.createDataFrame([("p1",), ("p2",)], "pair string")
        new = {
            r["pair"]: r["pair_id"]
            for r in issue_new_ids(
                existing, cands, "pair", "pair_id", base_offset=3_000_000_000
            ).collect()
        }
        assert new == {"p1": 3_000_000_001, "p2": 3_000_000_002}


class TestTransfersStages:
    def test_conditional_lowercase(self, spark):
        chains = spark.createDataFrame(
            [("eth", False), ("sol", True)], "chain_id string, is_case_sensitive boolean"
        )
        df = spark.createDataFrame(
            [("eth", "0xABC"), ("sol", "SoLAddR")], "chain_id string, wallet_address string"
        )
        got = {
            r["chain_id"]: r["wallet_address"]
            for r in normalize_addresses(df, chains).collect()
        }
        assert got == {"eth": "0xabc", "sol": "SoLAddR"}


class TestSessionWindowConsistency:
    def test_session_window_matches_gaps_and_islands(self, spark):
        """F.session_window (the built-in) must agree with the q27
        lag+cumsum sessionization on session count per user."""
        from etl_pipelines_spark.queries import QUERIES

        sf = "/root/testdata/sf0.001"
        ev = None
        from etl_pipelines_spark.sources.registry import load_table

        ev = load_table(spark, sf, "events")
        builtin = (
            ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"))
        )
        ours = (
            QUERIES["q27_sessionization"]
            .spark_fn(spark, sf)
            .groupBy("user_id")
            .agg(F.max("session_no").alias("n_sessions"))
        )
        b = {r["user_id"]: r["n_sessions"] for r in builtin.collect()}
        o = {r["user_id"]: r["n_sessions"] for r in ours.collect()}
        assert b == o
