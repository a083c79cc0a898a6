"""Training-corpus preparation — the LLM-data operators composed into
one driver program, the way `plans/refresh.py` composes the warehouse.

Pipeline (each stage only ever shrinks the corpus):

    raw documents
      -> quality gate          (Gopher/C4 thresholds, map-only)
      -> exact dedup           (md5 digest groupBy, keep lowest id)
      -> near-dup canonical    (MinHash 4x2 LSH -> Jaccard>=0.5 verify
                                -> connected components, keep one doc
                                per cluster)
      -> boilerplate removal   (cross-doc 8-token chunk dedup, drop
                                docs left empty)
      -> mixture sample        (count^0.5 temperature by lang, budget
                                frac of survivors, deterministic keep)
      -> parquet partitioned by lang

One shingle scan is persisted and feeds both the MinHash signatures
and the Jaccard verify; everything else is a single lazy DAG whose
only actions are the per-stage survivor counts (the report is the
product — same build-then-audit topology as the warehouse refresh)
and the final write.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipelines_spark.llm.dedup import (
    array_jaccard_verify,
    chunk_dedup,
    cluster_labels,
    doc_shingle_arrays,
    exact_dedup,
    exact_dedup_incremental,
    lsh_candidate_pairs,
    persisted_shingle_arrays,
    lsh_dedup_incremental,
    minhash_signatures,
)
from etl_pipelines_spark.llm.mixing import temperature_sample
from etl_pipelines_spark.llm.text import with_quality_filter


@dataclass
class CorpusReport:
    stage_counts: dict[str, int] = field(default_factory=dict)
    out_rows: int = 0
    merges: list[tuple[str, str]] = field(default_factory=list)

    @property
    def monotone(self) -> bool:
        counts = list(self.stage_counts.values())
        return all(a >= b for a, b in zip(counts, counts[1:]))


def prepare_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    budget_frac: float = 0.5,
    jaccard_threshold: float = 0.5,
    n_merges: int | None = None,
) -> CorpusReport:
    """Run the full preparation pipeline over `sf_dir/documents.parquet`
    and write the sampled clean corpus to `out_dir`, partitioned by
    lang (the downstream mixture consumer's natural read key).
    Deterministic end to end: same input -> same surviving doc ids.

    With `n_merges` set, the pipeline finishes the way a training run
    does: a BPE tokenizer trains ON THE CLEANED SAMPLE (training after
    dedup/sampling is deliberate — merge statistics should reflect what
    the model will actually see, not boilerplate the pipeline dropped)
    and the tokenized corpus writes to `out_dir`_tokens."""
    report = CorpusReport()
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    report.stage_counts["raw"] = docs.count()

    gated = (
        with_quality_filter(docs)
        .filter(F.col("quality_pass"))
        .select(*docs.columns)
    )
    report.stage_counts["quality_gate"] = gated.count()

    deduped = exact_dedup(gated)
    report.stage_counts["exact_dedup"] = deduped.count()

    canonical = near_dup_canonical(deduped, jaccard_threshold)
    report.stage_counts["near_dup_canonical"] = canonical.count()

    cleaned = chunk_dedup(canonical).filter(F.col("n_kept") > 0)
    rebuilt = canonical.drop("text").join(
        cleaned.select(
            "doc_id", F.col("clean_text").alias("text"), "n_chunks", "n_kept"
        ),
        "doc_id",
    )
    report.stage_counts["boilerplate_removed"] = rebuilt.count()

    sampled = temperature_sample(rebuilt, ["lang"], budget_frac=budget_frac).filter(
        F.col("keep")
    )
    out = sampled.select(
        "doc_id", "lang", "source", "text", "n_chunks", "n_kept", "sample_rate"
    )
    out.write.mode("overwrite").partitionBy("lang").parquet(out_dir)
    report.stage_counts["sampled"] = report.out_rows = (
        spark.read.parquet(out_dir).count()
    )
    if n_merges:
        from etl_pipelines_spark.llm.bpe import bpe_apply, bpe_train

        clean = spark.read.parquet(out_dir)
        report.merges = bpe_train(clean, n_merges)
        toks = bpe_apply(clean, report.merges)
        toks.write.mode("overwrite").parquet(out_dir + "_tokens")
        report.stage_counts["tokenized_docs"] = (
            spark.read.parquet(out_dir + "_tokens").count()
        )
    spark.catalog.clearCache()  # release the shingle frame near_dup persisted
    return report


def near_dup_canonical(
    deduped: DataFrame, jaccard_threshold: float = 0.5
) -> DataFrame:
    """One-shot near-dup canonicalization: MinHash-LSH candidates,
    exact Jaccard verify, connected components, keep the lowest id per
    cluster. One persisted shingle scan feeds signatures AND verify."""
    arrs, sh = persisted_shingle_arrays(deduped)
    sigs = minhash_signatures(deduped, shingles=sh)
    pairs = lsh_candidate_pairs(sigs)
    dup = array_jaccard_verify(pairs, arrays=arrs).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    # auto dispatch: star above the edge threshold (shape-insensitive
    # O(log n)), diameter-bounded propagation below it — and propagation
    # itself falls back to star if it exhausts its round budget
    labels = cluster_labels(dup, algorithm="auto")
    return (
        deduped.join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .filter(F.coalesce(F.col("label"), F.col("doc_id")) == F.col("doc_id"))
        .drop("label")
    )


def ingest_corpus_batch(
    batch: DataFrame,
    state: dict | None = None,
    jaccard_threshold: float = 0.5,
) -> tuple[DataFrame, dict]:
    """Incrementally-sound corpus ingestion: quality gate -> exact
    dedup -> near-dup canonicalization for ONE new batch against
    accumulated state, returning (canonical_survivor_ids, state).

    Composes the two incremental dedup operators: the exact stage
    keeps one digest row per doc ever kept (exact_dedup_incremental),
    and the near-dup stage keeps band memberships + shingle arrays +
    the verified pair graph (lsh_dedup_incremental) so only the new
    batch is ever shingled. With id-ordered disjoint batches the
    survivor set after each run is BIT-IDENTICAL to rebuilding the
    one-shot gate -> exact_dedup -> near_dup_canonical pipeline over
    everything seen so far (pinned in test_corpus_plan) — the
    reference's I1 high-water-mark ingestion applied to corpus prep.
    State frames are tables at scale: digests keyed by digest, bands
    by band_key, arrays by doc id.
    """
    gated = (
        with_quality_filter(batch)
        .filter(F.col("quality_pass"))
        .select(*batch.columns)
    )
    fresh, digests = exact_dedup_incremental(
        gated, state["digests"] if state else None
    )
    survivors, lsh_state = lsh_dedup_incremental(
        fresh.select("doc_id", "text"),
        state["lsh"] if state else None,
        threshold=jaccard_threshold,
    )
    return survivors, {"digests": digests, "lsh": lsh_state}
