"""Physical-plan assertions — correctness of the SHAPE, not the values:
filters reach the parquet scan, projections prune columns, small dims
broadcast, aggregations have a map-side partial phase. These are the
properties that decide whether a plan survives 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from mr_spark import operators as ops
from mr_spark import plans
from mr_spark.sources import load_table

from conftest import SF_DIR

QUERIES = ops.queries()


def test_q1_filter_pushdown_and_pruning(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    assert any("shipdate" in f.lower() for f in plans.pushed_filters(df))
    # 11-column table: the scan must NOT read columns q1 doesn't use
    schemas = plans.scan_schemas(df)
    assert schemas and all("l_orderkey" not in s for s in schemas)


def test_q5_broadcasts_dims(spark):
    df = QUERIES["q5_local_supplier"](spark, SF_DIR)
    assert plans.uses_broadcast_join(df)


def test_q3_broadcasts_filtered_customer(spark):
    df = QUERIES["q3_shipping_priority"](spark, SF_DIR)
    assert plans.uses_broadcast_join(df)


def test_wc_has_partial_aggregation(spark):
    """The map-side combine the reference's wc lacks entirely
    (SURVEY.md §4): partial count before the word shuffle."""
    df = QUERIES["wc"](spark, SF_DIR)
    assert plans.has_partial_aggregate(df)


def test_projection_pruning_reaches_scan(spark):
    df = load_table(spark, SF_DIR, "lineitem").select("l_orderkey")
    schemas = plans.scan_schemas(df)
    assert schemas == ["struct<l_orderkey:bigint>"]


def test_filter_pushdown_reaches_scan(spark):
    df = load_table(spark, SF_DIR, "part").where(F.col("p_size") > 10)
    assert any("p_size" in f for f in plans.pushed_filters(df))


# queries that legitimately use the Python/Arrow path (documented in each)
_PANDAS_QUERIES = {
    "ann_cosine_topk",      # numpy block-matmul kernel
    "embedding_neardup",    # numpy block-matmul kernel
    "ann_ivf_topk",         # numpy Lloyd-assignment kernel (broadcast k-means)
    "ann_recall_at_k",      # composes ann_cosine_topk's numpy kernel (by design)
    "ann_pq_topk",          # numpy PQ encode/ADC-lookup kernels (by design)
    "image_features_stub",  # mapInPandas feature extraction
    "frame_sample_stub",    # mapInPandas 1->n frame rows
    "stream_sessionize_stateful",  # applyInPandasWithState
    "tier_a_wc",            # Tier A Python App (by design)
    "tier_a_indexer",       # Tier A Python App (by design)
    "neardup_components",   # driver union-find fast path below threshold
    "udtf_sentences",       # typed Python UDTF (by design)
    "pandas_udaf_median",   # typed grouped-agg pandas UDAF (by design)
    "label_outlier_scores", # grouped-map applyInPandas centroid kernel (by design)
    "heavy_hitters",        # per-partition Misra-Gries sketch in mapInPandas (by design)
    "audio_energy_stub",    # mapInPandas fake-PCM framing kernel (by design)
    "payload_byte_stats",   # mapInArrow RecordBatch kernel (by design)
    "stream_hourly_agg",    # streaming (plan not comparable)
    "stream_stream_join",   # streaming
    "stream_dedup_events",  # streaming
}


def test_jvm_queries_have_no_python_in_plan(spark):
    """Discipline guard: every query not explicitly on the Arrow/Python
    path must compile to a pure-JVM plan (no BatchEvalPython /
    ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas node).

    The default run covers the LAZILY-BUILT queries only: building a
    cdc/streaming query's DataFrame runs real fixture commits,
    certification jobs and stream drains (~3 min of wall-clock in this
    one test), while their returned plans are trivial aggregations over
    the snapshot source / memory sink — near-zero guard value for the
    Python-node markers. The full sweep (every registered query) stays
    available under MRSPARK_PLANS_FULL=1 for the builder's full runs;
    the oracle sweep still executes every query end-to-end either way."""
    import os

    markers = ("EvalPython", "InPandas", "PythonMapInArrow")
    full = bool(os.environ.get("MRSPARK_PLANS_FULL"))
    eager_modules = (
        "mr_spark.operators.cdc",
        "mr_spark.operators.streaming_queries",
    )
    offenders = []
    for name, fn in ops.queries().items():
        if name in _PANDAS_QUERIES:
            continue
        if not full and getattr(fn, "__module__", "") in eager_modules:
            continue
        plan = plans.formatted(fn(spark, SF_DIR))
        if any(m in plan for m in markers):
            offenders.append(name)
    assert not offenders, f"unexpected Python in plans: {offenders}"


def test_winnow_fingerprints_single_exchange(spark):
    """The winnowing fingerprint relation must stay ONE exchange
    end-to-end: the lag-based run filter and the collect_set dedup both
    reuse the min-window's hash(doc_id) partitioning. A second exchange
    here was round 1's only super-linear scale probe."""
    from mr_spark.operators.text import winnow_fingerprints

    # pin the plan as BUILT: if another test already ran winnow_containment,
    # its persisted fingerprint relation cache-substitutes into this plan
    # and the cached subtree's internal exchange double-counts
    spark.catalog.clearCache()
    docs = load_table(spark, SF_DIR, "documents")
    assert plans.count_shuffles(winnow_fingerprints(docs)) == 1


def test_lm_surprisal_broadcasts_lm(spark):
    """The unigram LM (vocab-sized) and the total-count row must reach the
    token stream as broadcasts — a shuffle join on the token stream would
    move the corpus twice."""
    df = QUERIES["lm_surprisal"](spark, SF_DIR)
    assert plans.uses_broadcast_join(df)


def test_term_frequency_broadcasts_corpus_count(spark):
    """docs.count() used to run as a separate driver-side job; the count
    now lives in the plan as a broadcast 1-row aggregate."""
    df = QUERIES["term_frequency"](spark, SF_DIR)
    assert plans.uses_broadcast_join(df)


def test_fuzzy_blocking_is_equi_join(spark):
    """The blocking join must be a hash/sort-merge EQUI join on the block
    key — a nested-loop (the plan a naive `levenshtein(a,b) <= k` join
    condition produces) is the all-pairs death at scale."""
    plan = plans.formatted(QUERIES["fuzzy_match_pairs"](spark, SF_DIR))
    assert "NestedLoop" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_triangle_wedge_joins_are_equi(spark):
    """Wedge build and closure must both be equi joins (the closure is a
    single forward (source,sink)-key join; an OR-of-directions condition
    would fall back to a nested loop). The only nested-loop nodes allowed
    are the final one-row scalar cross joins."""
    import re

    plan = plans.formatted(QUERIES["triangle_count"](spark, SF_DIR))
    equi = len(re.findall(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan))
    assert equi >= 2


def test_anomaly_days_broadcasts_stats(spark):
    df = QUERIES["anomaly_days"](spark, SF_DIR)
    assert plans.uses_broadcast_join(df)


def test_event_cooccurrence_pairs_are_rowside(spark):
    """Pair generation must be an explode over per-user arrays (Generate
    node), with the marginals broadcast — not a user-level self-join."""
    plan = plans.formatted(QUERIES["event_cooccurrence"](spark, SF_DIR))
    assert "Generate" in plan
    assert "BroadcastHashJoin" in plan


def test_histogram_prunes_to_one_column(spark):
    df = QUERIES["histogram_prices"](spark, SF_DIR)
    schemas = plans.scan_schemas(df)
    assert schemas and all(s == "struct<l_extendedprice:double>" for s in schemas)


def test_gapfill_prunes_fact_scan(spark):
    df = QUERIES["gapfill_daily_revenue"](spark, SF_DIR)
    schemas = plans.scan_schemas(df)
    assert schemas and all("o_orderkey" not in s for s in schemas)


def test_pareto_has_two_window_phases(spark):
    """Phase-1 per-partition prune + phase-2 global scan = two Window
    nodes; recovery of customer rows is a broadcast semi join."""
    import re

    plan = plans.formatted(QUERIES["pareto_frontier"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) >= 2
    assert "BroadcastHashJoin" in plan


def test_regression_trend_has_partial_aggregation(spark):
    assert plans.has_partial_aggregate(QUERIES["regression_trend"](spark, SF_DIR))


def test_equidepth_rank_window_is_bin_partitioned(spark):
    """The heavy row_number window must be PARTITIONED on the range bin
    (the two-level distributed rank) — an unpartitioned global-sort
    window over orders would serialize on one task at scale. The only
    unpartitioned window allowed is the 1000-row bin-offset prefix sum."""
    plan = plans.formatted(QUERIES["equidepth_histogram"](spark, SF_DIR))
    assert "row_number()" in plan
    import re

    # every row_number window spec must carry the bin partition key
    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan):
        assert "bin" in m.group(1)


def test_market_concentration_rank_is_segment_partitioned(spark):
    plan = plans.formatted(QUERIES["market_concentration"](spark, SF_DIR))
    assert "hashpartitioning(c_mktsegment" in plan


def test_heavy_hitters_candidates_broadcast(spark):
    """Pass 2's candidate semi-join must broadcast the (sketch-bounded)
    candidate set, and the MG pass must read tokens pre-shuffle (the
    mapInPandas sits directly over the Generate, no Exchange between).
    The MG pass runs eagerly inside heavy_hitters (so its persist can be
    released before returning) — pin its plan via the _mg_sketch helper."""
    from pyspark.sql import functions as SF

    from mr_spark.functions import tokens
    from mr_spark.operators.quality import _mg_sketch
    from mr_spark.sources import load_table

    tok = load_table(spark, SF_DIR, "documents").select(
        SF.explode(tokens("text")).alias("word")
    )
    mg_plan = plans.formatted(_mg_sketch(tok))
    map_idx = mg_plan.find("MapInPandas")
    gen_idx = mg_plan.find("Generate")
    assert map_idx != -1 and gen_idx != -1
    # formatted plans print top-down: MapInPandas appears ABOVE the
    # Generate feeding it, and no Exchange may sit between the two
    assert map_idx < gen_idx
    assert "Exchange" not in mg_plan[map_idx:gen_idx]
    # pass 2: broadcast semi-join of the bounded candidate set
    plan = plans.formatted(QUERIES["heavy_hitters"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "MapInPandas" not in plan  # sketch already ran + unpersisted


def test_rolling_active_users_is_explode_plus_equi_join(spark):
    """The sliding window must be a Generate (explode into ≤7 buckets)
    feeding a broadcast EQUI join on the spine — the range-join form
    compiles to BroadcastNestedLoopJoin, quadratic in days."""
    plan = plans.formatted(QUERIES["rolling_active_users"](spark, SF_DIR))
    assert "Generate" in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kl_source_drift_broadcasts_vocab(spark):
    plan = plans.formatted(QUERIES["kl_source_drift"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_centroid_confusion_broadcasts_centroids(spark):
    plan = plans.formatted(QUERIES["centroid_confusion"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_psi_and_seasonal_prune_fact_scans(spark):
    for name, banned in [("psi_drift", "o_orderkey"), ("seasonal_decompose", "event_id")]:
        schemas = plans.scan_schemas(QUERIES[name](spark, SF_DIR))
        assert schemas and all(banned not in s for s in schemas), name


def test_q10_top20_is_take_ordered(spark):
    """q10's top-20 must compile to TakeOrderedAndProject (per-partition
    heaps + 20-row driver merge), NOT an unpartitioned row_number window
    that funnels every per-customer aggregate through one task."""
    plan = plans.formatted(QUERIES["q10_returned_items"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_vocab_coverage_cuts_topk_before_window(spark):
    """The vocabulary is corpus-proportional: the top-32 cut must plan as
    TakeOrderedAndProject (it runs eagerly inside the operator, within the
    counts persist scope), and the returned plan must window ONLY the 32
    collected rows — no corpus scan behind the window."""
    from pyspark.sql import functions as SF

    from mr_spark.functions import tokens

    counts = (
        load_table(spark, SF_DIR, "documents")
        .select(SF.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(SF.count("*").alias("cnt"))
    )
    cut_plan = plans.formatted(
        counts.orderBy(SF.desc("cnt"), SF.asc("word")).limit(32)
    )
    assert "TakeOrderedAndProject" in cut_plan
    plan = plans.formatted(QUERIES["vocab_coverage"](spark, SF_DIR))
    assert "Window" in plan
    assert "Scan parquet" not in plan  # windows a local 32-row relation


def test_ngram_novelty_is_linear_equi_join(spark):
    """df lookup must be an equi join on the 8-byte digest — no nested
    loop, no pair-emitting self-join shape; aggs keep partial phases."""
    df = QUERIES["ngram_novelty"](spark, SF_DIR)
    plan = plans.formatted(df)
    assert "NestedLoop" not in plan
    assert plans.has_partial_aggregate(df)


def test_dup_span_islands_window_is_doc_partitioned(spark):
    """Every row_number window in the gaps-and-islands pass must be
    PARTITIONED by doc_id — parallel at any corpus size."""
    import re

    plan = plans.formatted(QUERIES["dup_span_stats"](spark, SF_DIR))
    specs = re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("doc_id" in s for s in specs)


def test_dsir_broadcasts_histograms(spark):
    """The bucket histograms (≤1024 rows) must broadcast into the per-doc
    join — a shuffle join there would move the (doc, bucket) relation
    twice."""
    plan = plans.formatted(QUERIES["dsir_importance_weights"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the only nested-loop allowed is the broadcast 1-row totals cross join
    assert "CartesianProduct" not in plan


def test_char_ngram_entropy_is_shuffle_free(spark):
    """The entropy fold is entirely row-side (sorted-array run-length
    walk) — zero exchanges; the former (doc, gram) groupBy shuffled a
    corpus×len(text) trigram stream."""
    df = QUERIES["char_ngram_entropy"](spark, SF_DIR)
    assert plans.count_shuffles(df) == 0


def test_dpp_fact_scan_has_dynamic_partition_filter(spark):
    """The partitioned fact scan must carry a DynamicPruningExpression —
    without it a star-schema join scans every partition of a 100 TB
    fact table. (The query also asserts this itself, so a driver-green
    CORRECTNESS row certifies the mechanism; this pin survives if that
    in-query assert is ever removed.)"""
    plan = plans.formatted(QUERIES["dpp_partition_pruned_join"](spark, SF_DIR))
    assert "dynamicpruning" in plan.lower()


def test_bloom_runtime_filter_in_plan_and_no_conf_leak(spark):
    """The fact scan must carry the injected might_contain(bloom) filter
    (row-level runtime pruning before the shuffle), and the query's conf
    overrides (autoBroadcast disabled, lowered bloom thresholds) must
    stay in its isolated child session — a leak would silently strip
    broadcast joins from every later query in the same driver session."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    df = QUERIES["bloom_runtime_filter_join"](spark, SF_DIR)
    plan = plans.formatted(df)
    assert "might_contain" in plan.lower()
    assert "bloom_filter_agg" in plan.lower()
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def test_matview_delta_join_is_view_sized(spark):
    """Incremental view maintenance must never rescan the base table's
    v2: the plan reads v1 files and the changed-bucket CDF slice only —
    no scan of the full merged state — and the mv⋈delta join is on the
    tiny group domain (broadcastable; no NestedLoop)."""
    df = QUERIES["matview_incremental"](spark, SF_DIR)
    plan = plans.formatted(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_q8_all_dims_broadcast_no_cartesian(spark):
    """Q8's 7-table dim chain must broadcast end to end: the only
    allowed shuffles are lineitem⋈orders and the year aggregation — a
    dim falling back to SortMergeJoin (or a cartesian) would shuffle the
    fact table once per dim at scale."""
    df = QUERIES["q8_market_share"](spark, SF_DIR)
    p = plans.formatted(df)
    assert plans.uses_broadcast_join(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert p.count("SortMergeJoin") <= 1  # at most the fact-fact join


def test_scd2_join_is_equi_not_cartesian(spark):
    """scd2_from_feed's open⋈close match carries a range conjunct
    (__close_v > __start_at) ON TOP of the key equi-condition — Catalyst
    must plan it as an equi-join with the range as a post-join filter,
    never a nested-loop/cartesian (which would be |opens|×|closes| at
    scale)."""
    df = QUERIES["cdc_scd2_history"](spark, SF_DIR)
    p = plans.formatted(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_identity_allocation_no_single_partition_exchange(spark):
    """Identity allocation must rank distributed: the plan may range-
    partition the batch, but a SinglePartition exchange (the bare
    Window.orderBy shape) would serialize every allocating write through
    one task."""
    import tempfile

    from mr_spark.acid import SnapshotTable

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "k bigint, v string"
    )
    t = SnapshotTable.create(
        spark, tempfile.mkdtemp() + "/t",
        df.limit(1), key="k", n_buckets=2, identity="rid",
    )
    m = t._manifest(1)
    out, _, release = t._with_identity(m, df.where("k > 0"))
    try:
        p = plans.formatted(out)
        assert "SinglePartition" not in p
        assert "rangepartitioning" in p.lower()
    finally:
        release()


def test_tier_a_reduce_side_is_aqe_coalesced(spark):
    """The batched executor's shuffle is a by-column repartition, so AQE
    sizes the reduce side from the shuffle bytes: a fixed-count
    repartition (REPARTITION_BY_NUM) is never coalesced and costs one
    Python reduce task per bucket however few rows there are."""
    df = QUERIES["tier_a_wc"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "REPARTITION_BY_COL" in plan and "REPARTITION_BY_NUM" not in plan
    assert "AQEShuffleRead coalesced" in plan
