"""Composed reconciliation workflow: validate an incremental load.

The §3-style entry point over operators/tablediff.py — the check a
warehouse runs after every incremental merge (the reference's
rebuild-vs-increment concern, core_coin_wallet_profits' full-refresh
pattern): did the increment land the table exactly where a rebuild
would have?

Protocol (O(churn) heavy work, one narrow pass over each table):
1. `snapshot_diff` the expected vs the loaded table — the per-key
   added/removed/changed audit (digest-width shuffle).
2. `table_digest` both sides — the order/partitioning-independent
   checksum equality that catches what key-level sampling cannot
   (e.g. duplicate rows under a non-unique key).
3. Optionally reconcile a MAINTAINED digest (`table_digest_delta`
   applied to the pre-load checksum + the load's change set) against
   the recomputed one — proving the incremental bookkeeping itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipelines_spark.operators.tablediff import snapshot_diff, table_digest

SAMPLE_VIOLATIONS = 5


def validate_incremental_load(
    expected: DataFrame,
    loaded: DataFrame,
    keys: list[str],
    cache: bool = False,
) -> dict:
    """Report dict for a load-vs-rebuild comparison:
    {clean, digest_match, n_added, n_removed, n_changed, violations}
    — `clean` means both checksums agree AND the key diff is empty;
    `violations` carries up to SAMPLE_VIOLATIONS offending keys (a
    bounded driver-side sample, the quality.py convention). Every
    non-key column of `loaded` is compared.

    `cache=True` persists both inputs for the validation's three
    actions (key diff + two digests) — each side is otherwise
    re-evaluated per action, which for a landed-table probe means
    three scans of the same files. Only for CHURN-SIZED inputs: a
    first-run validation compares whole tables and must stream."""
    # one canonical column list for BOTH digests: row_digest is
    # column-position-sensitive, so letting each side default to its
    # own column order would report a clean load as a digest mismatch
    compare_cols = [c for c in loaded.columns if c not in keys]
    cols = keys + compare_cols
    cached = []
    if cache:
        expected = expected.persist()
        loaded = loaded.persist()
        cached = [expected, loaded]
    diff = snapshot_diff(expected, loaded, keys, compare_cols)
    # the whole validation in ONE action (round 12, §1-class job
    # removal): the key-diff status counts and BOTH side digests are
    # each a handful of rows, so they union into one collected frame —
    # the clean steady-state run (every daily increment) pays one
    # per-action scheduling floor here instead of two. The violation
    # sample re-evaluates the diff, but only on the rare dirty run.
    # `_kind` tells the row families apart: a key-diff status count,
    # or one side's digest ("expected" / "loaded" in `status`).
    fused = (
        diff.groupBy("status").agg(F.count(F.lit(1)).alias("_n"))
        .select(
            F.lit("count").alias("_kind"),
            "status",
            "_n",
            F.lit(None).cast("decimal(38,0)").alias("digest"),
        )
        .unionByName(
            table_digest(expected, cols).select(
                F.lit("digest").alias("_kind"),
                F.lit("expected").alias("status"),
                F.col("n_rows").alias("_n"),
                "digest",
            )
        )
        .unionByName(
            table_digest(loaded, cols).select(
                F.lit("digest").alias("_kind"),
                F.lit("loaded").alias("status"),
                F.col("n_rows").alias("_n"),
                "digest",
            )
        )
        .collect()
    )
    counts = {r["status"]: r["_n"] for r in fused if r["_kind"] == "count"}
    sides = {
        r["status"]: (r["_n"], r["digest"]) for r in fused if r["_kind"] == "digest"
    }
    digest_match = sides["expected"] == sides["loaded"]
    n_added = int(counts.get("added", 0))
    n_removed = int(counts.get("removed", 0))
    n_changed = int(counts.get("changed", 0))
    clean = digest_match and not (n_added or n_removed or n_changed)
    # the sample re-runs the (churn-sized) diff — dirty runs only
    violations = (
        []
        if not (n_added or n_removed or n_changed)
        else [
            tuple(r[k] for k in keys) + (r["status"],)
            for r in diff.limit(SAMPLE_VIOLATIONS).collect()
        ]
    )
    for fr in cached:
        fr.unpersist()
    return {
        "clean": clean,
        "digest_match": digest_match,
        "n_added": n_added,
        "n_removed": n_removed,
        "n_changed": n_changed,
        "violations": violations,
    }
