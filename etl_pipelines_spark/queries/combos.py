"""Driver-facing catalog: the full internal registry consolidated to
<= 50 entries.

The driver's correctness gate records the FIRST 50 registry entries
only (round 1 captured 50/74), so the driver-facing surface merges
related internal queries into combo entries. A combo runs every member
query and unions the results under a `part` tag over a combo-wide
typed slot schema (bigint/double/string/date slots, NULL-padded); its
oracle is the same UNION ALL over the members' oracle SQL as
subqueries. Because slot names match on both sides and the driver
compares after sorting columns by name, every member row is still
value-checked bit-for-bit — consolidation changes the packaging, not
the check. Members stay registered in `QUERIES` for pytest,
`tools/check_parity.py --internal`, and per-operator plan audits.

Slot typing rules (cross-engine exact):
- bigint ids/counts ride in bigint slots; int/boolean cast to bigint.
- doubles ride in double slots untouched (the driver's float compare).
- dates ride in a date slot when every member agrees, else cast to
  string ('yyyy-MM-dd' in both engines).
- NULL padding: `CAST(NULL AS <type>)` on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipelines_spark.queries.catalog import QUERIES, QuerySpec
from etl_pipelines_spark.session import run_concurrently

# (slot name -> spark type, duckdb type) vocabulary used by combos
_TYPES = {
    "bigint": "BIGINT",
    "double": "DOUBLE",
    "string": "VARCHAR",
    "date": "DATE",
}


def _align(
    df: DataFrame, tag: str, schema: list[tuple[str, str]], mapping: dict[str, str]
) -> DataFrame:
    """Project a member result onto the combo's typed slot schema."""
    cols = [F.lit(tag).alias("part")]
    for slot, typ in schema:
        if slot in mapping:
            cols.append(F.expr(mapping[slot]).cast(typ).alias(slot))
        else:
            cols.append(F.lit(None).cast(typ).alias(slot))
    return df.select(*cols)


# driver-entry name -> internal member query names; introspection for
# tools (ratio_table charges a combo against the SUM of its members'
# oracle timings) and the CATALOG generator
COMBO_MEMBERS: dict[str, list[str]] = {}

# single-slot registry for suite-level caches (the llm/similarity.py
# fine-codebook pattern): bench reruns each suite many times per
# session, and a bare .persist() per invocation leaks one cached
# DataFrame per run until LRU eviction (round-9 advice). Re-building a
# slot unpersists its predecessor, so at most one cache per suite feed
# is live at a time; bench/driver clearCache between queries still
# clears everything. Guarded by a lock since round 11: suite members
# are constructed from concurrent threads (see _combo's spark_fn).
_SUITE_CACHE: dict[str, DataFrame] = {}
_SUITE_CACHE_LOCK = None  # created lazily to keep import side-effect free


def _cache_lock():
    global _SUITE_CACHE_LOCK
    if _SUITE_CACHE_LOCK is None:
        import threading

        _SUITE_CACHE_LOCK = threading.Lock()
    return _SUITE_CACHE_LOCK


def _suite_persist(slot: str, df: DataFrame, eager: bool = False) -> DataFrame:
    with _cache_lock():
        prev = _SUITE_CACHE.pop(slot, None)
        if prev is not None:
            try:
                prev.unpersist()
            except Exception:
                pass  # session gone / already evicted — nothing to free
        df = df.persist()
        _SUITE_CACHE[slot] = df
    if eager:
        # materialize before the consumers are even planned: branches
        # of one union job schedule their upstream stages independently
        # and can race past a lazy cache (the persisted_shingle_arrays
        # lesson; q52 at sf1: eager 3.1-3.4 s vs lazy-persist 4.5 s).
        # The count runs OUTSIDE the registry lock: it is a whole Spark
        # job, and concurrent suite threads must not serialize on it.
        df.count()
    return df


def _combo(
    name: str,
    description: str,
    schema: list[tuple[str, str]],
    members: list[tuple[str, str, dict[str, str]]],
    tags: tuple[str, ...] = (),
) -> QuerySpec:
    """Build a combo QuerySpec.

    schema: ordered [(slot, type)] shared by every member.
    members: [(part_tag, internal_query_name, {slot: sql_expr})] —
      sql_expr is evaluated against the member's oracle output AND,
      via expr(), against the member's Spark output (the expressions
      used here are column refs or CAST(col AS type), valid in both).
    """
    COMBO_MEMBERS[name] = [qname for _, qname, _ in members]
    specs = [(tag, QUERIES[qname], mapping) for tag, qname, mapping in members]

    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        # members construct concurrently. Several member builders
        # eagerly materialize a persisted feed (persist + count) before
        # returning their lazy frame — a fixed-floor Spark job each.
        # Called sequentially those barrier jobs serialize (measured:
        # the q33 pair suite spent 7-8.6 s of its 15 s inside spark_fn
        # before the union job even started); from concurrent threads
        # they overlap and the scheduler back-fills idle cores. Plan
        # construction itself is py4j socket I/O, which also overlaps.
        # Results come back in member order, so the union shape (and
        # therefore the combo oracle alignment) is deterministic.
        frames = run_concurrently(
            *[
                (lambda s=spec: s.spark_fn(spark, sf_dir))
                for _, spec, _ in specs
            ]
        )
        out = None
        for (tag, spec, mapping), df in zip(specs, frames):
            part = _align(df, tag, schema, mapping)
            out = part if out is None else out.unionByName(part)
        return out

    selects = []
    for tag, spec, mapping in specs:
        items = [f"'{tag}' AS part"]
        for slot, typ in schema:
            dtyp = _TYPES[typ]
            expr = mapping.get(slot)
            items.append(
                f"CAST({expr} AS {dtyp}) AS {slot}"
                if expr is not None
                else f"CAST(NULL AS {dtyp}) AS {slot}"
            )
        selects.append(
            "SELECT " + ", ".join(items) + f" FROM (\n{spec.oracle}\n) AS m"
        )
    oracle = "\nUNION ALL\n".join(selects)
    return QuerySpec(name, spark_fn, oracle, description, tags)


def _pair_suite_shared_scan(schema, members):
    """Shared-scan spark_fn for the pair suite: the trigram-shingle
    members (minhash q33, LSH+verify q34, prefix+verify q74) all read
    ONE persisted per-doc shingle-array frame instead of each building
    their own cache — two fewer corpus text scans per run. Each part
    calls the SAME library operators with the same parameters as its
    standalone member, so the oracle (the members' UNION ALL) and the
    member-level parity gate pin any drift. q36 (word-chunk SimHash),
    q37 (embeddings), and q60 (5-token chunks) use different raw
    representations and keep their member plans."""

    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from etl_pipelines_spark.llm.dedup import (
            array_jaccard_verify,
            doc_word_shingle_arrays,
            duplicate_spans,
            lsh_candidate_pairs,
            minhash_signatures,
            prefix_filter_pairs,
            simhash_near_dups,
        )
        from etl_pipelines_spark.queries.llmops import _decontamination
        from etl_pipelines_spark.sources.registry import footer_stats, load_table

        docs = load_table(spark, sf_dir, "documents")
        # ONE text pass feeds every word-grain member: the persisted
        # feed carries BOTH the word array (simhash tokens, 5-token
        # decontamination chunks, 8-gram span digests) and the distinct
        # trigram-shingle array (minhash, both verifies, prefixes) —
        # one cache-fill barrier where the previous shape paid two
        # serialized ones (words.count then arrs.count), and five fewer
        # text scans per run than per-member feeds. Materialized
        # eagerly BEFORE the member threads start: concurrent builders
        # racing past a lazy cache would each recompute the split.
        feed = _suite_persist(
            "pair_feed", doc_word_shingle_arrays(docs), eager=True
        )
        words = feed.select("doc_id", "_w")

        def trigram_group():
            # the shingle slices of the feed serve minhash, both
            # verifies, and prefixes; the banding barrier inside
            # lsh_candidate_pairs stays ordered WITHIN this thread
            arrs = feed.select("doc_id", "_toks", "_n")
            sh = feed.select(
                "doc_id", F.explode("_toks").alias("shingle")
            )
            sigs = minhash_signatures(docs, shingles=sh)
            toks = sh.withColumnRenamed("shingle", "token")
            return {
                "minhash": sigs,
                "lsh": array_jaccard_verify(
                    lsh_candidate_pairs(sigs), arrays=arrs
                ),
                "prefix": (
                    array_jaccard_verify(
                        # shingle-grain dfreq broadcast only while the
                        # corpus keeps it driver-sized (see q74; the
                        # sf10 gate found the 25M-shingle broadcast
                        # overflowing a 12g driver)
                        prefix_filter_pairs(
                            docs, 0.5, tokens=toks,
                            broadcast_df=footer_stats(sf_dir, "documents").n_rows
                            <= 100_000,
                        ),
                        arrays=arrs,
                    )
                    .filter(F.col("jaccard") >= 0.5)
                    .select("doc_a", "doc_b", "jaccard")
                ),
            }

        # each word-grain member calls the SAME library operator as its
        # standalone plan, words-fed; q37 (embeddings) and q92 (names)
        # keep their member plans. One builder thread per member so the
        # remaining eager barriers (banding, simhash sigs, span grams)
        # overlap (guide §2.6).
        builders = {
            "simhash": lambda: simhash_near_dups(docs, words=words),
            "decon": lambda: _decontamination(docs, words=words),
            "spans": lambda: duplicate_spans(docs, min_len=8, words=words),
        }
        shared_tags = {"minhash", "lsh", "prefix"} | set(builders)
        others = [
            (tag, qname)
            for tag, qname, _ in members
            if tag not in shared_tags
        ]
        ordered = (
            [("_trigram", trigram_group)]
            + list(builders.items())
            + [
                (tag, (lambda q=qname: QUERIES[q].spark_fn(spark, sf_dir)))
                for tag, qname in others
            ]
        )
        built = run_concurrently(*[fn for _, fn in ordered])
        frames = dict(built[0])
        frames.update(
            {tag: df for (tag, _), df in zip(ordered[1:], built[1:])}
        )
        out = None
        for tag, qname, mapping in members:
            part = _align(frames[tag], tag, schema, mapping)
            out = part if out is None else out.unionByName(part)
        return out

    return spark_fn


def _shared_words_scan(schema, members, frames_fn, persist=False, eager=False):
    """Generic shared-tokenization spark_fn: ONE shared pre-split
    words expression (doc_id, lang, _w) feeds every member that
    tokenizes, fused into a single union plan. `persist` is a
    per-suite call: the round-3 lesson (a split() over a tiny scan is
    cheaper to re-derive per branch than to materialize) held at 3
    sharing members at sf0.1 — q52's A/B read lazy 1.26-1.79 s vs
    persisted 2.0-2.21 s — but inverts once the corpus outgrows the
    cache-write cost: q55 (4 sharing members) flipped at sf0.1 (lazy
    2.41 s vs persisted 1.84 s), and q52 flipped at sf1
    (one session: lazy 3.64 s, lazy-persist
    4.5 s, EAGER persist 3.14-3.38 s — a lazy cache lets the union's
    branches race past it, the persisted_shingle_arrays lesson, so
    `eager` materializes before the consumers are planned). The cache
    is corpus-words-sized (one array column), executor-storage-safe
    at every gate corpus; bench.py clears cache between runs, the
    driver gate runs each query once. `frames_fn(words)` returns
    {part_tag: DataFrame}; members absent from it fall back to their
    standalone plan. Each part calls the SAME member helpers with the
    same parameters, so the oracle (the members' UNION ALL) and the
    member-level parity gate pin any drift."""

    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from etl_pipelines_spark.sources.registry import load_table

        docs = load_table(spark, sf_dir, "documents")

        def words_group():
            words = docs.repartition("doc_id").select(
                "doc_id", "lang", F.split("text", " ").alias("_w")
            )
            if persist:
                words = _suite_persist(
                    f"words:{schema[0][0]}:{members[0][1]}", words, eager=eager
                )
            return frames_fn(words)

        # members the frames_fn does not serve keep their standalone
        # plans (q105's span feed primes its own eager cache) and
        # construct concurrently with the words barrier (guide §2.6)
        served = getattr(frames_fn, "serves", None)
        rest = [
            (tag, qname)
            for tag, qname, _ in members
            if served is not None and tag not in served
        ]
        built = run_concurrently(
            words_group,
            *[
                (lambda q=qname: QUERIES[q].spark_fn(spark, sf_dir))
                for _, qname in rest
            ],
        )
        frames = dict(built[0])
        frames.update({tag: df for (tag, _), df in zip(rest, built[1:])})
        for tag, qname, _ in members:
            if tag not in frames:
                frames[tag] = QUERIES[qname].spark_fn(spark, sf_dir)
        out = None
        for tag, qname, mapping in members:
            part = _align(frames[tag], tag, schema, mapping)
            out = part if out is None else out.unionByName(part)
        return out

    return spark_fn


_PAIR_SCHEMA = [
    ("a", "bigint"), ("b", "bigint"), ("c", "bigint"),
    ("x", "double"), ("s", "string"),
]
_PAIR_MEMBERS = [
    ("minhash", "q33_minhash_signatures",
     {"a": "doc_id",
      "s": "concat_ws(',', mh_0, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6, mh_7)"}),
    ("lsh", "q34_lsh_jaccard_pairs",
     {"a": "doc_a", "b": "doc_b", "c": "n_intersect", "x": "jaccard"}),
    ("simhash", "q36_simhash_near_dup",
     {"a": "doc_a", "b": "doc_b", "c": "hamming"}),
    ("cosine", "q37_cosine_near_dup",
     {"a": "vec_a", "b": "vec_b", "x": "cosine"}),
    ("decontam", "q60_decontamination",
     {"a": "train_doc_id", "b": "benchmark_doc_id", "c": "n_shared_chunks"}),
    ("prefix", "q74_prefix_filter_pairs",
     {"a": "doc_a", "b": "doc_b", "x": "jaccard"}),    ("fuzzy", "q92_fuzzy_name_match",
     {"s": "name_a || '|' || name_b", "c": "distance"}),
    ("spans", "q104_duplicate_spans",
     {"a": "doc_id", "b": "span_start", "c": "span_end",
      "x": "CAST(n_grams AS DOUBLE)"}),
]



_Q52_SCHEMA = [
    ("a", "bigint"), ("s1", "string"), ("c1", "bigint"),
    ("c2", "bigint"), ("c3", "bigint"), ("x", "double"),
]
_Q52_MEMBERS = [
    ("tfidf", "q52_tfidf_top_terms",
     {"a": "doc_id", "s1": "token", "c1": "tf", "x": "score"}),
    ("colloc", "q69_bigram_collocations",
     {"s1": "bigram", "c1": "c_xy", "c2": "c_x", "c3": "c_y",
      "x": "lift"}),
    ("bm25", "q81_bm25_retrieval",
     {"a": "doc_id", "c1": "n_hit", "c2": "rank", "x": "score"}),
]

_Q55_SCHEMA = [
    ("doc", "bigint"), ("c1", "bigint"), ("c2", "bigint"),
    ("s1", "string"), ("s2", "string"), ("x", "double"),
]
_Q55_MEMBERS = [
    ("repetition", "q55_repetition_ratio",
     {"doc": "doc_id", "c1": "n_trigrams", "s1": "top_trigram",
      "x": "top_trigram_share"}),
    ("split", "q59_split_assignment",
     {"doc": "doc_id", "s1": "lang", "c1": "bucket", "s2": "split"}),
    ("unigram", "q62_unigram_likelihood",
     {"doc": "doc_id", "c1": "n_tokens", "c2": "freq_mass",
      "x": "avg_token_prob"}),
    ("dsir", "q102_dsir_selection",
     {"doc": "doc_id", "c1": "target_mass", "c2": "corpus_mass",
      "x": "importance", "s1": "CAST(keep AS STRING)"}),
    ("duprate", "q105_duplication_rate",
     {"doc": "doc_id", "c1": "n_words", "c2": "dup_words",
      "x": "dup_fraction"}),
]


def _q52_frames(words: DataFrame) -> dict[str, DataFrame]:
    """All three members ride the ONE eager-persisted words cache.
    A second suite-level cache of the (doc, token, tf) aggregate —
    the round-10 verdict's suggested fix for the tf double-pass —
    was built and MEASURED WORSE at sf1 (two sessions, warm rounds: words-shared 3.46-3.65 s vs tf-shared
    4.23-5.20 s vs tf-only 3.67-5.74 s): the extra eager barrier and
    cache write cost more than the duplicated explode+partial-agg
    over the cached words. The real q52 win was inside the member —
    _tfidf_top_terms now keeps everything on the words frame's
    hash(doc) partitioning and broadcasts a vocab-sized dfreq,
    dropping the two full-tf exchanges its window-over-token df
    used to pay; the tf=/n_docs= parameters remain for callers that
    already hold a materialized tf."""
    from etl_pipelines_spark.queries.llmops import (
        _bigram_collocations,
        _bm25_retrieval,
        _tfidf_top_terms,
    )

    # ONE dfreq subtree (docs containing each token — vocab-sized after
    # a map-side distinct-explode collapse) passed to BOTH tfidf and
    # bm25: the two frames reference the same DataFrame, so the plan
    # carries one BroadcastExchange and a ReusedExchange instead of two
    # independently-computed document-frequency passes (tfidf's
    # distinct-explode and bm25's full tf re-aggregation). Same value
    # by definition: tf rows per token == docs containing the token.
    dfreq = (
        words.select(F.explode(F.array_distinct("_w")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return {
        "tfidf": _tfidf_top_terms(None, words=words, dfreq=dfreq),
        "colloc": _bigram_collocations(None, words=words),
        "bm25": _bm25_retrieval(None, words=words, dfreq=dfreq),
    }


_q52_frames.serves = frozenset({"tfidf", "colloc", "bm25"})


_Q51_SCHEMA = [
    ("a", "bigint"), ("c", "bigint"), ("d", "bigint"),
    ("s", "string"), ("x", "double"),
]
_Q51_MEMBERS = [
    ("kmv", "q51_kmv_distinct_sketch",
     {"a": "coin_id", "c": "n_min", "x": "kmv_estimate"}),
    ("hll", "q80_portable_hll_rollup",
     {"a": "coin_id", "c": "n_present", "x": "hll_estimate"}),
    ("bloom", "q85_bloom_filter",
     {"a": "cust_id", "c": "CAST(in_bloom AS BIGINT)",
      "d": "CAST(is_member AS BIGINT)"}),
    ("cmin", "q90_countmin_frequency",
     {"s": "user_id", "c": "cm_estimate", "d": "exact_cnt"}),
    ("qsk", "q95_quantile_sketch_rollup",
     {"a": "coin_id", "c": "n_sample", "s": "q",
      "x": "quantile_value"}),
]


def _q51_direct_grain(schema, members):
    """Suite-level feeds for HLL (q80) and the quantile sample (q95):
    build each sketch state DIRECTLY at coin grain instead of the
    standalone members' month-grain-build-then-merge. The merge
    CLOSURE those members exist to demonstrate (register max and
    bottom-k selection are associative; merge(fine) == build(direct),
    pinned in test_operators) is exactly what makes this
    value-identical — the suite just skips one full-corpus
    aggregation level per member. Measured at sf1 under the full-plan
    noop-sink protocol: suite ~10 s -> ~8 s. Rejected alternatives,
    all measured under the same protocol: a shared pre-aggregation
    event stream (base-feeding kmv/hll looked 2x better under
    count() — a column-pruning artifact; under the full-plan sink it
    was 10-20% WORSE than the standalone members), an
    eagerly-persisted shared transfers frame (cache write + barrier
    cost more than the three ~1.5 s rebuilds they replace), and a
    repartition-above-the-agg reuse point (Catalyst collapses the
    redundant exchange; member-specific pruning de-dupes the branches
    anyway). The residual gap to the DuckDB oracle (~1.5x at sf1) is
    md5 throughput: every member's hash is anchored to md5 for
    cross-engine exactness, and ONE md5+conv pass over the 6M-row
    stream costs ~1.9 s in the JVM — three members pay it. Production
    reads ride xxhash64 / approx_count_distinct (operators/sketches.py
    note); the portable tier exists to be oracle-diffable. kmv (q51),
    q85 (customers), q90 (events) keep their member plans."""

    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from etl_pipelines_spark.operators.sketches import (
            fused_kmv_hll_state,
            kmv_from_fused_state,
            md5_distinct_stream,
            portable_hll_estimate,
            quantile_sketch_build,
            quantile_sketch_estimate,
        )
        from etl_pipelines_spark.plans.wallet_transfers import transfers_from
        from etl_pipelines_spark.queries.catalog import t
        from etl_pipelines_spark.queries.timeseries import _KMV_K

        # UNCLUSTERED daily-net feed (shuffle_on=None): the suite's
        # builds re-aggregate to their own grains and never reuse coin
        # clustering, so the explicit coin exchange only funnels a
        # Zipf-hot coin through one task (skewed-sf1: suite 16 -> ~10 s;
        # uniform sf1 pays ~0.5 s for the composite-key shuffle).
        # EAGER-persisted since round 11: the dh distinct and the qsk
        # rank-hash branches start concurrently inside the one union
        # job and RACE past a lazy cache, each recomputing the
        # join+aggregate feed (~3 s at sf1) before the cache fills.
        # Interleaved 3-round A/B at sf1 (full 5-member suite): x eager + dh lazy-persist 14.2 s < x eager
        # + dh eager 15.3 s < lazy-lazy (the round-10 shape) 18.5 s <
        # x eager + qsk prefilter64 15.8 s — the barrier costs one
        # serialized feed build, the race costs ~2.
        def transfers_group():
            x = _suite_persist(
                "q51_transfers",
                transfers_from(
                    t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "orders"),
                    shuffle_on=None,
                ),
                eager=True,
            )
            # ONE aggregation over the distinct (coin, wallet) + md5
            # stream builds BOTH sketch states (round-12, verdict item
            # 1, guide §2.4): per (coin, reg) the HLL register max AND
            # the kmv level-1 bottom-k, the register doubling as the
            # cascade's salt group (any deterministic partition of a
            # key's hashes is exact — fused_kmv_hll_state docstring;
            # fused == direct pinned in test_operators). Round 11
            # persisted the 6M-row md5 stream and paid one full
            # aggregation pass over it per member (kmv level-1 + hll
            # register max). DELIBERATELY NOT persisted: both
            # consumers reference this same frame, so their plans
            # share the identical (coin, reg) aggregation exchange and
            # AQE's ReusedExchange computes the distinct+md5+fused-agg
            # subtree ONCE — where a lazy persist made the two union
            # branches RACE (each recomputing the heavy aggregation
            # before the cache filled) and an eager persist serialized
            # a second barrier behind the x count. Interleaved 3-round
            # A/B at sf1: unpersisted 8.55 s <
            # one-barrier 9.30 < r11 dh-lazy-persist 10.64 < state
            # lazy-persist 10.94.
            state = fused_kmv_hll_state(
                md5_distinct_stream(x, ["coin_id"], "wallet_address"),
                ["coin_id"],
                k=_KMV_K,
            )
            return x, state

        def frames_from(x, state):
            return {
            # kmv rides the SAME unclustered feed (round 8): its
            # standalone plan rebuilt the coin-keyed transfers for no
            # consumer benefit — the distinct-before-hash means the
            # result is partitioning-independent and the member oracle
            # is unchanged. Hot-key safety: the fused state's register
            # salt bounds the level-1 bottom-k buffer to
            # distinct-hashes/256 per task (tighter than round 11's
            # G=32 hash salt).
            "kmv": kmv_from_fused_state(state, ["coin_id"], k=_KMV_K),
            "hll": portable_hll_estimate(
                state.select("coin_id", "reg", "rho"), ["coin_id"]
            ),
            # salt_groups on the sample build: unlike the sketch-sized
            # kmv/hll states, the bottom-k ingests EVERY raw row — the
            # skewed-sf1 hot coin funnels ~1/3 of the corpus into one
            # collect_list buffer unsalted (member profile: 9.8 s, the
            # suite's dominant cost). CASCADE mode, not prefilter:
            # measured back-to-back at sf1 (round 10), cascade 12.2 s
            # vs prefilter 17.7-19 s for the whole suite even over the
            # persisted feed — the prefilter's threshold join +
            # second pass cost more here than the cascade's one
            # group/16-buffer shuffle. The group/G buffer bound is the
            # documented trade-off — see quantile_sketch_build's
            # docstring for when prefilter is the right mode
            "qsk": quantile_sketch_estimate(
                quantile_sketch_build(
                    x,
                    ["coin_id"],
                    "net_transfers",
                    ["coin_id", "wallet_address", "date"],
                    salt_groups=16,
                ),
                ["coin_id"],
                qs=(0.25, 0.5, 0.9),
            ),
            }

        # bloom (customers) and cmin (events) read other tables and
        # share nothing with the transfers feed: their builders run
        # concurrently with the x/dh barrier jobs (guide §2.6)
        served = {"kmv", "hll", "qsk"}
        rest = [
            (tag, qname) for tag, qname, _ in members if tag not in served
        ]
        built = run_concurrently(
            transfers_group,
            *[
                (lambda q=qname: QUERIES[q].spark_fn(spark, sf_dir))
                for _, qname in rest
            ],
        )
        frames = frames_from(*built[0])
        frames.update({tag: df for (tag, _), df in zip(rest, built[1:])})
        out = None
        for tag, qname, mapping in members:
            part = _align(frames[tag], tag, schema, mapping)
            out = part if out is None else out.unionByName(part)
        return out

    return spark_fn


def _q55_frames(words: DataFrame) -> dict[str, DataFrame]:
    from etl_pipelines_spark.llm.text import repetition_stats
    from etl_pipelines_spark.queries.llmops import (
        _split_assignment,
        _unigram_likelihood,
    )

    from etl_pipelines_spark.queries.llmops import _dsir_selection

    return {
        "repetition": repetition_stats(None, words=words),
        "split": _split_assignment(words),
        "unigram": _unigram_likelihood(None, words=words),
        "dsir": _dsir_selection(None, words=words),
    }


_q55_frames.serves = frozenset({"repetition", "split", "unigram", "dsir"})


# ------------------------------------------------------------------ combos

_COMBOS = [
    _combo(
        "q03_latest_per_key_suite",
        "A6 row_number keep-newest dedupe (q03) + O4/A8 top-1-per-group"
        " (q12) — the two 'latest row per key' rewrites, tagged.",
        [("a", "bigint"), ("b", "bigint"), ("s", "string"), ("x", "double")],
        [
            ("dedupe", "q03_dedupe_keep_latest",
             {"a": "user_id", "b": "event_id", "s": "event_type", "x": "value"}),
            ("top1", "q12_top1_per_group",
             {"a": "o_custkey", "b": "latest_orderkey", "x": "latest_totalprice"}),
        ],
        ("window", "dedupe"),
    ),
    _combo(
        "q06_setops_suite",
        "J4 left-anti exclusions (q06), J6 semi join (q07), O5/O6 union"
        " distinct (q11) — the id-set operators, tagged.",
        [("a", "bigint"), ("s", "string"), ("x", "double")],
        [
            ("anti", "q06_anti_join_exclusions",
             {"a": "c_custkey", "s": "c_name", "x": "c_acctbal"}),
            ("semi", "q07_semi_join_priced_coins",
             {"a": "p_partkey", "s": "p_name"}),
            ("union", "q11_union_distinct_ids", {"a": "nationkey"}),
        ],
        ("join", "setops"),
    ),
    _combo(
        "q08_join_merge_suite",
        "J7 full-outer + coalesce metadata merge (q08) and J8 theta join"
        " with equi key (q09), tagged.",
        [("a", "bigint"), ("b", "bigint"), ("x", "double"), ("y", "double")],
        [
            ("outer", "q08_full_outer_coalesce",
             {"a": "partkey", "x": "shipped_qty", "y": "returned_qty"}),
            ("theta", "q09_theta_join_overage",
             {"a": "c_custkey", "b": "c_nationkey", "x": "c_acctbal",
              "y": "avg_bal"}),
        ],
        ("join",),
    ),
    _combo(
        "q10_grouping_suite",
        "A4 conditional-count census (q10), A12 ROLLUP subtotals"
        " (q46), and arbitrary GROUPING SETS with grouping_id (q87),"
        " tagged.",
        [("s1", "string"), ("s2", "string"), ("c1", "bigint"),
         ("c2", "bigint"), ("c3", "bigint"), ("x", "double")],
        [
            ("census", "q10_conditional_agg_census",
             {"s1": "c_nationkey", "c1": "wallets", "c2": "negative_wallets",
              "c3": "building_wallets"}),
            ("rollup", "q46_rollup_totals",
             {"s1": "returnflag", "s2": "linestatus", "c1": "n_rows",
              "x": "sum_qty"}),
            ("gsets", "q87_grouping_sets",
             {"s1": "status", "s2": "priority", "c1": "gid",
              "c2": "n_orders", "x": "total_price"}),
        ],
        ("agg",),
    ),
    _combo(
        "q13_sampling_suite",
        "O3 deterministic hash sample (q13) and stratified dev sample"
        " (q47), tagged.",
        [("a", "bigint"), ("b", "bigint"), ("s", "string")],
        [
            ("hash", "q13_deterministic_sample",
             {"a": "o_orderkey", "b": "o_custkey"}),
            ("strata", "q47_stratified_dev_sample",
             {"a": "coin_id", "s": "stratum"}),
        ],
        ("sample",),
    ),
    _combo(
        "q15_scalar_suite",
        "P3/F1 conditional string normalization (q15), F2 date/time"
        " functions (q26), and the URL-parsing family — last-token"
        " clean, source classification, marker-relative segment"
        " extraction (q103) — tagged.",
        [("a", "bigint"), ("s1", "string"), ("s2", "string"),
         ("s3", "string"), ("c", "bigint")],
        [
            ("strings", "q15_case_normalization",
             {"a": "c_custkey", "s1": "wallet_address", "s2": "chain_key",
              "c": "name_number"}),
            ("dates", "q26_date_functions",
             {"a": "span_days", "s1": "order_month", "s2": "first_order",
              "s3": "last_order", "c": "n_orders"}),
            ("urls", "q103_url_parsing",
             {"a": "key", "s1": "source", "s2": "chain",
              "s3": "token_ref"}),
        ],
        ("scalar",),
    ),
    _combo(
        "q20_ts_repair_suite",
        "Q4/W7 single-day dip removal (q20), D1/D2 densify +"
        " forward-fill with days_imputed (q21), the rolling"
        " z-score anomaly gate — trailing-7 mean/sigma from exact"
        " milli-integer sums (q93) — and the distribution-adaptive"
        " Tukey IQR fences from exact rank-position quartiles (q101),"
        " tagged.",
        [("coin", "bigint"), ("d", "date"), ("price", "double"),
         ("days", "bigint"), ("c2", "bigint"), ("x", "double"),
         ("y", "double"), ("flag", "bigint")],
        [
            ("dip", "q20_lag_lead_dip_removal",
             {"coin": "coin_id", "d": "date", "price": "price"}),
            ("densify", "q21_gap_fill_densify",
             {"coin": "coin_id", "d": "date", "price": "price",
              "days": "days_imputed"}),
            ("zscore", "q93_rolling_zscore_anomaly",
             {"coin": "coin_id", "d": "date", "days": "price_milli",
              "c2": "trail_n", "x": "trail_mean", "y": "trail_var",
              "flag": "is_anomaly"}),
            ("iqr", "q101_iqr_price_outliers",
             {"coin": "coin_id", "d": "date", "days": "price_milli",
              "c2": "q1", "x": "CAST(q3 AS DOUBLE)",
              "flag": "CAST(is_outlier AS BIGINT)"}),
        ],
        ("timeseries",),
    ),
    _combo(
        "q24_window_suite",
        "A11/W5 rank within group (q24), W3 global running total"
        " (q25), the distribution-rank window family — ntile /"
        " percent_rank / cume_dist / nth_value on one sort (q86), and"
        " the cohort retention matrix (q91), tagged.",
        [("a", "bigint"), ("b", "bigint"), ("s", "string"),
         ("dt", "date"), ("r", "bigint"), ("x", "double"),
         ("y", "double")],
        [
            ("rank", "q24_rank_within_group",
             {"a": "s_nationkey", "b": "s_suppkey", "s": "s_name",
              "r": "bal_rank"}),
            ("running", "q25_global_running_total",
             {"a": "o_orderkey", "x": "running_total"}),
            ("family", "q86_window_family",
             {"a": "c_custkey", "b": "nation", "r": "bal_quartile",
              "x": "bal_pct_rank", "y": "bal_cume_dist"}),
            ("cohort", "q91_cohort_retention",
             {"dt": "cohort_day", "a": "days_since",
              "b": "active_users"}),
        ],
        ("window",),
    ),
    _combo(
        "q31_text_profile",
        "Per-doc text profiling: token stats + TTR quality (q31),"
        " language ID (q32), Gopher/C4 quality gate + rolling"
        " fingerprint (q41), deny-list scrub counts (q65), and"
        " trained-BPE tokenization — the merge-training loop unrolled"
        " by the oracle as CTE rounds (q89), tagged.",
        [("doc", "bigint"), ("c1", "bigint"), ("c2", "bigint"),
         ("c3", "bigint"), ("s1", "string"), ("s2", "string"),
         ("x", "double"), ("y", "double")],
        [
            ("tokens", "q31_token_stats",
             {"doc": "doc_id", "c1": "n_tokens", "c2": "n_bpe_tokens",
              "c3": "n_distinct_tokens", "x": "quality_score",
              "s1": "fingerprint"}),
            ("lang", "q32_lang_id",
             {"doc": "doc_id", "s1": "lang", "s2": "predicted_lang"}),
            ("quality", "q41_quality_filter_fingerprint",
             {"doc": "doc_id", "c1": "n_tokens", "c2": "rolling_fp",
              "c3": "quality_pass", "x": "mean_token_len",
              "y": "stopword_ratio"}),
            ("scrub", "q65_denylist_scrub",
             {"doc": "doc_id", "c1": "n_blocked", "c2": "scrub_chars",
              "s1": "scrub_digest"}),
            ("bpe", "q89_bpe_tokenizer",
             {"doc": "doc_id", "c1": "n_tokens", "s1": "tokens_joined"}),
        ],
        ("text",),
    ),
    # the pair suite gets a shared-scan spark_fn below (its oracle and
    # slot schema come from the generic builder)
    _combo(
        "q33_pair_suite",
        "Near-dup / contamination pair generators, tagged: MinHash"
        " signatures (q33, signature digest per doc), MinHash-LSH +"
        " exact-Jaccard verify (q34), SimHash hamming pairs (q36),"
        " hyperplane-LSH cosine near-dups (q37), eval-set"
        " decontamination pairs (q60), exact-recall prefix-filter"
        " pairs (q74), fuzzy name matches (q92), and exact"
        " substring-duplication spans (q104, the suffix-array family)."
        " The trigram members (q33/q34/q74) share ONE persisted"
        " shingle-array scan inside the suite.",
        _PAIR_SCHEMA,
        _PAIR_MEMBERS,
        ("dedup", "join"),
    ),
    _combo(
        "q35_ann_suite",
        "k-NN retrieval, tagged: brute-force cosine top-k baseline"
        " (q35), IVF coarse-quantizer ANN (q38), and the two-level"
        " coarse+fine quantizer ANN (q106, the 10^9-vector scale path"
        " whose whole coarse+fine training the oracle replays) —"
        " identical output contract, so the suite doubles as a recall"
        " comparison.",
        [("query_id", "bigint"), ("neighbor_id", "bigint"),
         ("rank", "bigint"), ("cosine", "double")],
        [
            ("brute", "q35_knn_cosine",
             {"query_id": "query_id", "neighbor_id": "neighbor_id",
              "rank": "rank", "cosine": "cosine"}),
            ("ivf", "q38_ivf_bucketed_ann",
             {"query_id": "query_id", "neighbor_id": "neighbor_id",
              "rank": "rank", "cosine": "cosine"}),
            ("twolevel", "q106_two_level_ann",
             {"query_id": "query_id", "neighbor_id": "neighbor_id",
              "rank": "rank", "cosine": "cosine"}),
        ],
        ("ann",),
    ),
    _combo(
        "q39_multimodal_suite",
        "Binary-column multimodal plumbing, tagged: Arrow-batched byte"
        " features (q39), evenly-spaced frame sampling (q40), and the"
        " REAL codec round-trips — synthetic PNG/WAV/Y4M payloads"
        " encoded then genuinely decoded, with the oracle recomputing"
        " the decoded stats from each generator's closed form (q82"
        " image, q83 audio, q84 video).",
        [("doc", "bigint"), ("b", "bigint"), ("c", "bigint"),
         ("d", "bigint"), ("e", "bigint"), ("s", "string"),
         ("x", "double"), ("y", "double")],
        [
            ("bytes", "q39_multimodal_features",
             {"doc": "doc_id", "b": "n_bytes", "s": "sha256",
              "x": "byte_mean"}),
            ("frames", "q40_frame_sampling",
             {"doc": "doc_id", "b": "sample_no", "c": "frame_idx"}),
            ("img", "q82_image_decode",
             {"doc": "doc_id", "b": "width", "c": "height",
              "d": "channels", "x": "mean_pixel"}),
            ("wav", "q83_audio_decode",
             {"doc": "doc_id", "b": "n_samples", "c": "zero_crossings",
              "d": "sample_rate", "e": "n_channels",
              "x": "duration_s", "y": "rms"}),
            ("vid", "q84_video_decode",
             {"doc": "doc_id", "b": "frame_idx", "c": "n_frames",
              "d": "width", "e": "height", "x": "luma_mean"}),
        ],
        ("multimodal",),
    ),
    _combo(
        "q43_timeseries_suite",
        "Time-series retrieval & resampling, tagged: as-of backward"
        " price join (q43), as-of with a 4-day staleness tolerance"
        " (q78), and OHLC/VWAP 6-hour bar resampling (q79).",
        [("a", "bigint"), ("dt", "date"), ("bs", "string"),
         ("s", "string"), ("c", "bigint"), ("o", "double"),
         ("h", "double"), ("l", "double"), ("cl", "double"),
         ("v", "double"), ("vw", "double"), ("x", "double")],
        [
            ("asof", "q43_asof_price_join",
             {"a": "coin_id", "dt": "date", "x": "asof_price"}),
            ("tol", "q78_asof_tolerance",
             {"a": "coin_id", "dt": "date", "x": "asof_price"}),
            ("ohlc", "q79_ohlc_resample",
             {"s": "event_type", "bs": "bucket_start", "c": "n_trades",
              "o": "open", "h": "high", "l": "low", "cl": "close",
              "v": "volume", "vw": "vwap"}),
        ],
        ("join", "timeseries", "agg"),
    ),
    _combo(
        "q51_sketch_suite",
        "Cross-engine-exact portable sketches, tagged: KMV distinct"
        " count per coin (q51), the mergeable portable HLL rollup"
        " built at month grain and max-merged (q80), the portable"
        " Bloom filter build+probe whose false-positive set matches"
        " the oracle bit-for-bit (q85), count-min frequency"
        " estimation next to its exact counts (q90), and the bottom-k"
        " quantile-sample rollup (q95) — the four mergeable-state"
        " flavors: max, OR, sum, top-k selection.",
        _Q51_SCHEMA,
        _Q51_MEMBERS,
        ("agg", "sketch"),
    ),
    _combo(
        "q44_embedding_stats",
        "Embedding-corpus statistics, tagged: per-label centroids (q44),"
        " per-dimension int8 quantization codes (q67), and SemDeDup"
        " semantic near-dup removal over trained k-means cells (q96).",
        [("a", "bigint"), ("b", "bigint"), ("c1", "bigint"),
         ("c2", "bigint"), ("c3", "bigint"), ("s", "string"),
         ("x", "double")],
        [
            ("centroid", "q44_label_centroids",
             {"a": "label", "b": "dim", "x": "centroid_val"}),
            ("quant", "q67_embedding_quantization",
             {"a": "vec_id", "b": "n_dims", "c1": "code_sum",
              "c2": "code_min", "c3": "code_max", "s": "code_digest"}),
            ("semdedup", "q96_semantic_dedup",
             {"a": "vec_id", "b": "cluster", "c1": "CAST(keep AS BIGINT)"}),
        ],
        ("embedding",),
    ),
    _combo(
        "q52_term_mining",
        "Corpus term statistics & retrieval, tagged: TF-IDF top terms"
        " per doc (q52), PMI-style bigram collocations (q69), and BM25"
        " top-10 retrieval for a deterministic query (q81). Members"
        " share one lazily-shared pre-split words expression inside"
        " the suite.",
        _Q52_SCHEMA,
        _Q52_MEMBERS,
        ("text", "agg"),
    ),
    _combo(
        "q53_profile_suite",
        "Dataset profiling, tagged: exact per-group percentiles (q53),"
        " the per-column null/distinct/min/max profile (q54), and the"
        " exact Pearson correlation matrix from one moment pass"
        " (q100).",
        [("s1", "string"), ("c1", "bigint"), ("c2", "bigint"),
         ("c3", "bigint"), ("c4", "bigint"), ("x", "double"),
         ("y", "double"), ("s2", "string"), ("s3", "string")],
        [
            ("quantiles", "q53_group_quantiles",
             {"s1": "source", "c1": "n_docs", "c2": "p50_chars",
              "c3": "p90_chars", "c4": "p99_chars"}),
            ("columns", "q54_column_profile",
             {"s1": "col_name", "c1": "n_rows", "c2": "n_null",
              "c3": "n_distinct", "x": "min_num", "y": "max_num",
              "s2": "min_str", "s3": "max_str"}),
            ("corr", "q100_correlation_matrix",
             {"s2": "col_a", "s3": "col_b", "c1": "n", "x": "corr"}),
        ],
        ("profile",),
    ),
    _combo(
        "q55_doc_scoring",
        "Per-doc corpus scoring, tagged: Gopher repetition ratio (q55),"
        " deterministic split assignment (q59), CCNet unigram-LM"
        " likelihood (q62), DSIR-style importance selection vs"
        " the 'en' target stratum (q102), and the q104-span"
        " duplication rate (q105). The tokenizing members share"
        " one lazily-shared pre-split words expression inside the"
        " suite.",
        _Q55_SCHEMA,
        _Q55_MEMBERS,
        ("text",),
    ),
    _combo(
        "q56_chunking_suite",
        "Chunk-level corpus transforms, tagged: C4 boilerplate chunk"
        " dedup (q56) and RAG strided chunking (q70).",
        [("doc", "bigint"), ("c1", "bigint"), ("c2", "bigint"),
         ("s", "string")],
        [
            ("boilerplate", "q56_chunk_dedup",
             {"doc": "doc_id", "c1": "n_chunks", "c2": "n_kept",
              "s": "clean_text"}),
            ("rag", "q70_rag_chunking",
             {"doc": "doc_id", "c1": "chunk_idx", "c2": "n_tokens",
              "s": "chunk_digest"}),
        ],
        ("text", "dedup"),
    ),
    _combo(
        "q57_mixing_suite",
        "Corpus mixing & layout, tagged: temperature mixture sampling"
        " (q57), training-sequence packing (q58), UniMax budget"
        " water-fill (q66).",
        [("doc", "bigint"), ("lang", "string"), ("c1", "bigint"),
         ("c2", "bigint"), ("x", "double"), ("flag", "bigint")],
        [
            ("mixture", "q57_mixture_sampling",
             {"doc": "doc_id", "lang": "lang", "c1": "n_stratum_docs",
              "x": "sample_rate", "flag": "keep"}),
            ("packing", "q58_sequence_packing",
             {"doc": "doc_id", "lang": "lang", "c1": "seq_id",
              "c2": "seq_offset"}),
            ("waterfill", "q66_budget_waterfill",
             {"lang": "lang", "c1": "n_docs", "c2": "alloc",
              "flag": "saturated"}),
        ],
        ("mixing",),
    ),
    _combo(
        "q29_clustering_suite",
        "Graph clustering decisions, tagged: LSH near-dup canonical"
        " doc clusters (q29) and end-to-end fuzzy entity resolution —"
        " blocked edit-distance pairs closed into entity groups with"
        " one canonical name each (q99). Both run the same"
        " connected-components machinery; both oracles replay the"
        " transitive closure as recursive CTEs.",
        [("a", "bigint"), ("b", "bigint"), ("c", "bigint"),
         ("s1", "string"), ("s2", "string")],
        [
            ("docs", "q29_dedup_canonical_clusters",
             {"a": "doc_id", "b": "canonical_id",
              "c": "CAST(is_canonical AS BIGINT)"}),
            ("entities", "q99_entity_resolution",
             {"s1": "name", "s2": "entity_id",
              "c": "CAST(is_canonical AS BIGINT)"}),
        ],
        ("dedup", "iterative"),
    ),
    _combo(
        "q77_mutation_suite",
        "Mapping-table mutations, tagged: MERGE upsert as one"
        " anti-join+union plan with conflicting-update dedupe (q77),"
        " SCD2 snapshot-to-history application — close changed"
        " versions, re-open new ones, keep the history (q88) — SCD2"
        " built straight from a CDC change log with tombstones (q94),"
        " the added/removed/changed snapshot reconciliation diff"
        " (q97), and the order-independent whole-table checksum"
        " (q98).",
        [("a", "bigint"), ("b", "bigint"), ("c", "bigint"),
         ("d", "bigint"), ("s1", "string"), ("s2", "string"),
         ("s3", "string"), ("x", "double")],
        [
            ("merge", "q77_merge_upsert",
             {"a": "id", "s1": "name", "x": "v"}),
            ("scd2", "q88_scd2_history",
             {"a": "id", "s1": "name", "s2": "valid_from",
              "s3": "valid_to", "x": "price"}),
            ("cdc", "q94_scd2_from_change_log",
             {"a": "user_id", "b": "event_id", "c": "valid_from_us",
              "d": "valid_to_us", "x": "value"}),
            ("diff", "q97_snapshot_diff",
             {"a": "id", "s1": "status"}),
            ("digest", "q98_table_digest",
             {"a": "n_rows", "s1": "CAST(digest AS STRING)"}),
        ],
        ("merge", "mutation"),
    ),
]

_STANDALONE = [
    "q01_pricing_summary",
    "q02_region_customer_revenue",
    "q04_running_balance",
    "q05_daily_net_kernel",
    "q14_stable_id_issuance",
    "q16_json_extraction",
    "q17_outlier_rules",
    "q18_array_aggregation",
    "q19_scalar_combine_joins",
    "q22_wallet_profits_kernel",
    "q23_whale_bucket_counts",
    "q27_sessionization",
    "q28_incremental_hwm",
    "q30_exact_dedup",
    "q42_streaming_daily_rollup",
    "q45_trailing_window_frames",
    "q48_range_bucket_join",
    "q49_or_condition_join",
    "q50_sql_view_union",
    "q61_hopping_windows",
    "q63_vocabulary_growth",
    "q64_source_contamination_matrix",
    "q68_stream_stream_attribution",
    "q71_event_funnel",
    "q72_quality_audit",
    "q73_pivot_unpivot",
    "q75_wallet_profits_pipeline",
    "q76_external_snapshot_scan",
]


for _c in _COMBOS:
    if _c.name == "q33_pair_suite":
        _c.spark_fn = _pair_suite_shared_scan(_PAIR_SCHEMA, _PAIR_MEMBERS)
    elif _c.name == "q52_term_mining":
        # persist+eager since round 10: the three members consume the
        # split ~8x (tf/dl/query/bigram/unigram branches); the round-3
        # lazy-wins A/B inverted at sf1 (lazy 3.64 s,
        # lazy-persist 4.5 s, eager 3.14-3.38 s — see
        # _shared_words_scan's docstring)
        _c.spark_fn = _shared_words_scan(
            _Q52_SCHEMA, _Q52_MEMBERS, _q52_frames, persist=True, eager=True
        )
    elif _c.name == "q55_doc_scoring":
        _c.spark_fn = _shared_words_scan(
            _Q55_SCHEMA, _Q55_MEMBERS, _q55_frames, persist=True
        )
    elif _c.name == "q51_sketch_suite":
        _c.spark_fn = _q51_direct_grain(_Q51_SCHEMA, _Q51_MEMBERS)


def build_driver_queries() -> dict[str, QuerySpec]:
    out: dict[str, QuerySpec] = {}
    ordered = sorted(
        _STANDALONE + [c.name for c in _COMBOS]
    )
    combos = {c.name: c for c in _COMBOS}
    for name in ordered:
        out[name] = combos.get(name) or QUERIES[name]
    assert len(out) <= 50, f"driver catalog must fit the 50-entry gate, got {len(out)}"
    return out


DRIVER_QUERIES = build_driver_queries()
