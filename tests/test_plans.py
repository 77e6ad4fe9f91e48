"""Physical-plan assertions: the properties that make these queries
survive a 100× scale-up — predicate pushdown into the parquet scan,
column pruning, broadcast joins for dims, no Python boundary in hot
paths. Plans regress silently; these tests make them load-bearing."""

import pytest

from data_pipeline_stripe_spark.queries import REGISTRY


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruned scan: 7 needed columns, not all 11
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "star_join_revenue_by_region")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_royalties_has_no_python_boundary(spark, sf_dir):
    """The reference converts currencies in an RDD map (royalties.py:306)
    — every row through a Python worker. The rebuild must stay JVM-side."""
    plan = plan_of(spark, sf_dir, "royalties_monthly_usd")
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_usage_report_is_single_pass(spark, sf_dir):
    """One grouped agg + one window over the aggregate — not the
    reference's six shuffles of the full fact (platform_usage.py:118-187).
    Exchanges: fact repartition (test-env rebalance) + agg + window."""
    plan = plan_of(spark, sf_dir, "platform_usage_monthly")
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges <= 3, f"expected <=3 shuffles, plan has {n_exchanges}"


def test_topk_uses_single_window_no_self_join(spark, sf_dir):
    """top10's count-then-join-back (top10.py:242-244) must be a window,
    so the plan has no join at all."""
    plan = plan_of(spark, sf_dir, "top10_event_types_daily")
    assert "Join" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_global_topk_avoids_full_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "global_topk_orders")
    assert "TakeOrderedAndProject" in plan


# Queries where a Python stage is the point (Arrow-batched kernels) or an
# O(n²) pair scan is the documented baseline semantics. Every query's
# plan is checked against these by test_oracle_parity.py's
# test_query_matches_oracle, on the frame it builds for the oracle check.
PYTHON_OK = {"sql_udf_usage_percent", "embedding_topk_cosine_pandas",
             "multimodal_image_features",
             # real encode/decode round-trips: the Arrow-batched Python
             # stage IS the operator under test
             "multimodal_bmp_roundtrip", "multimodal_wav_roundtrip",
             "multimodal_png_roundtrip",
             "multimodal_audio_windows", "multimodal_image_resize",
             "multimodal_video_frame_sample",
             # perceptual-hash dedup: the Arrow-batched decode+fingerprint
             # kernel IS the operator; the dedup groupBy shuffles two longs
             "multimodal_image_ahash_dedup",
             # UDAF/UDTF surface proofs: the Python stage IS the operator
             "udaf_weighted_avg_price_by_flag", "udtf_top_bigrams"}
NONEQUI_OK = {
    # documented O(n²) brute-force baselines / pair scans (exact
    # semantics; the scale paths are the bucketed variants)
    "embedding_topk_cosine", "embedding_cosine_near_dup",
    "embedding_topk_cosine_pandas",
    # quantized brute-force top-k: same broadcast-queries-vs-corpus shape
    # as embedding_topk_cosine, on int8 codes (the scale paths stay the
    # IVF / RP-LSH variants)
    "embedding_quantized_topk",
    # hard negatives: brute-force broadcast-queries kernel + the 4-row
    # centroid cross for assignment — both documented shapes above
    "embedding_hard_negatives",
    # point-in-time features: the 4-row cutoff dim joins the (user,
    # type, day) PRE-AGGREGATE on a range condition — the BNLJ build
    # side is |cutoffs| rows and the probe is the aggregate, never the
    # fact (pinned by test_feature_snapshot_preaggregates_before_cutoff_join)
    "feature_snapshot_user_weekly",
    # broadcast-TINY crosses: a 1-row scalar total / a 4-row centroid table
    # against the fact — nested-loop over a broadcast handful is the right
    # plan (the small side is O(1), not a second fact)
    "sql_udf_usage_percent", "embedding_ivf_assign", "embedding_ivf_topk",
    "embedding_kmeans_step", "embedding_cosine_near_dup_bucketed",
    # pruned IVF: the only cross left is the corpus→centroid BUILD
    # assignment (16-row broadcast); the QUERY path is keyed RP-band
    # routing — pinned to exactly one BNLJ below
    "embedding_ivf_topk_pruned",
    # PQ-ADC: the per-query LUT maps (8 rows) ride a broadcast cross
    # against the corpus codes — same broadcast-tiny class
    "embedding_pq_topk",
    # recall audit composes embedding_topk_cosine + embedding_ivf_topk,
    # so it inherits exactly their allowlisted shapes (the audit's own
    # join is a keyed equi-join of two k·|queries|-row frames)
    "embedding_ann_recall_audit",
    # q22's scalar-AVG subquery: 1-row broadcast cross against customer
    "q22_dormant_high_balance",
    # CUPED: the pooled 1-row moment frame broadcast-crosses the
    # |variants|-row aggregate — both sides O(1), never the fact
    "ab_cuped_adjusted_value",
    # q11's scalar-total subquery: 1-row broadcast cross against the
    # per-part aggregate output (|parts| rows, not the fact)
    "q11_important_part_value",
    # LM scores' corpus totals: a 1-row (N, V) aggregate broadcast over
    # the token/bigram streams — same scalar-subquery class as q11/q22
    "doc_lm_score", "doc_lm_bigram_score",
    # Bloom decontamination: the folded bitmap is ONE map row broadcast
    # over the train gram stream (scan-side membership test) — the same
    # 1-row-cross class; the exact verify join stays a hash join
    "doc_decontaminate_bloom",
    # BPE merge step: the corpus's 1-row top pair broadcast over the
    # token stream — same scalar-subquery class
    "doc_bpe_merge_step",
    # PMI ratio: the 1-row corpus token total broadcast over the pair
    # counts — same scalar-subquery class (pair generation itself is a
    # doc_id-keyed sort-merge join)
    "doc_pmi_pairs",
    # triangle count summary: three 1-row aggregates (nodes, edges,
    # triangles) crossed into the single output row — the wedge joins
    # themselves are keyed hash joins
    "triangle_count_copurchase",
    # gap-fill grid bounds: the 1-row (min_day, max_day) aggregate
    # broadcast over the per-user day grid — scalar-subquery class
    "gapfill_user_daily_values",
    # CMS heavy hitters: the 1-row stream total broadcast into the
    # support-threshold filter — scalar-subquery class; the sketch
    # probe and exact verify are keyed joins
    "events_heavy_hitter_value_buckets",
    # HLL overlap: the pair list is a broadcast self-join of the ~5
    # DISTINCT key values (tiny cross); register unions and estimate
    # joins are keyed
    "approx_user_overlap_event_types",
    # r9 recall audits: each COMPOSES an already-allowlisted component
    # (the PQ LUT broadcast cross / the O(n²) exact pair baseline);
    # the audit's own joins are keyed, and the RP-LSH audit adds one
    # cross of two 1-row count aggregates — scalar-subquery class
    "embedding_pq_recall_audit",
    "embedding_rp_lsh_recall_audit",
    # r10: the sampled twin composes the same O(n²) exact baseline +
    # 1-row count cross over the vec_id % 10 subsample
    "embedding_rp_lsh_recall_audit_sampled",
    # r13-opt: the CDF replay legs full-outer-join the feed against a
    # PROVABLY EMPTY base (the JVM empty_frame — LocalTableScan with
    # known size 0, where the old python-RDD empty frame hid its size
    # and planned a sort-merge join). A BNLJ whose BUILD side is the
    # empty base streams the feed exactly once — cheaper than the SMJ
    # it replaced, and the build side is O(0) by construction, never
    # a fact
    "stream_snapshot_cdf_source_parity",
    "stream_cdf_equality_delete_parity",
}


def test_q19_pushes_common_disjunct_conjuncts(spark, sf_dir):
    """The 3-branch disjunction shares brand/size/quantity bounds across
    branches; Catalyst must extract them into scan-level filters so the
    join sees pre-filtered inputs (at 100 TB this is most of the win)."""
    plan = plan_of(spark, sf_dir, "q19_disjunctive_revenue")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l for l in pushed), "quantity bound not pushed"
    assert any("p_brand" in l for l in pushed), "brand set not pushed"
    assert "BroadcastHashJoin" in plan


def test_q18_orders_largest_first_without_full_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q18_large_volume_customers")
    assert "TakeOrderedAndProject" in plan


def test_q6_pushes_every_predicate_and_prunes(spark, sf_dir):
    """Q6 is the pushdown proof: all three predicates (ship-date range,
    discount band, quantity cap) must reach the parquet scan, and the
    scan must read only the 4 referenced columns."""
    plan = plan_of(spark, sf_dir, "q6_forecast_revenue_delta")
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} predicate not pushed"
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_q7_dims_broadcast_fact_join_keyed(spark, sf_dir):
    """Nation-pair flow: supplier/customer (joined to nation, filtered to
    the pair) broadcast; the only shuffle join is lineitem⋈orders."""
    plan = plan_of(spark, sf_dir, "q7_nation_trade_flow")
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("SortMergeJoin") <= 1


def test_near_dup_bucketed_pair_join_is_keyed(spark, sf_dir):
    """The bucketed near-dup's candidate generation must be a hash/merge
    join keyed on cluster_id; the only nested-loop allowed is the corpus ×
    broadcast-centroid cross (4 rows). A regression back to the O(n²)
    pair scan would show up as a second nested-loop / cartesian."""
    plan = plan_of(spark, sf_dir, "embedding_cosine_near_dup_bucketed")
    assert "CartesianProduct" not in plan
    # the probe assignment (corpus × broadcast centroids) appears once per
    # side of the self-join — two BNLJs, both against the 4-row broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    keyed = [
        l for l in plan.splitlines()
        if ("SortMergeJoin" in l or "ShuffledHashJoin" in l
            or "BroadcastHashJoin" in l) and "cluster_id" in l
    ]
    assert keyed, "no keyed join on cluster_id found in plan"


def test_ivf_pruned_query_routing_has_no_query_centroid_cross(spark, sf_dir):
    """ivf_topk_pruned's point: queries reach probe centroids via a KEYED
    RP-band join, so the plan's only nested-loop is the corpus→centroid
    build assignment (one 16-row broadcast cross); plain ivf_topk carries
    a second cross (query×centroid routing). A regression that reroutes
    queries through a cross shows up as BNLJ count > 1."""
    plan = plan_of(spark, sf_dir, "embedding_ivf_topk_pruned")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    keyed = [
        l for l in plan.splitlines()
        if ("SortMergeJoin" in l or "ShuffledHashJoin" in l
            or "BroadcastHashJoin" in l)
        and "band_idx" in l and "band_key" in l
    ]
    assert keyed, "no keyed routing join on (band_idx, band_key) in plan"
    # the unpruned variant really does carry the extra cross
    base = plan_of(spark, sf_dir, "embedding_ivf_topk")
    assert base.count("BroadcastNestedLoopJoin") >= 2


def test_minhash_signature_plan_is_one_aggregation(spark, sf_dir):
    """16 hash functions = 16 agg columns over one explode, not 16 passes:
    exactly one pair of partial/final HashAggregate for the signatures."""
    from data_pipeline_stripe_spark.llm import dedup
    from data_pipeline_stripe_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = dedup.minhash_signatures(docs)._jdf.queryExecution().executedPlan().toString()
    # partial + final (ObjectHashAggregate for min over strings)
    assert plan.count("Aggregate") in (2, 3)
    assert "Generate explode" in plan or "Generate" in plan


def test_rp_signatures_run_at_scan_speed(spark, sf_dir):
    """The 32-plane signature is pure per-row expression math: no join,
    no Python boundary, and no shuffle beyond load_table's test-env
    single-row-group rebalance — the plane matrix must constant-fold
    into the expression, not arrive via a join."""
    plan = plan_of(spark, sf_dir, "embedding_rp_signatures")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 1


def test_rp_pairs_candidates_are_hash_joined(spark, sf_dir):
    """Candidate generation must be an equi join on the band keys —
    never a nested-loop pair scan."""
    plan = plan_of(spark, sf_dir, "embedding_rp_lsh_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_quality_classifier_is_scan_shaped(spark, sf_dir):
    """The classifier must score at scan speed: pure expression math,
    no join (weights are literals, not a weights table), no Python."""
    plan = plan_of(spark, sf_dir, "doc_quality_classifier")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 1  # load_table test-env rebalance only


def test_posexplode_runs_in_scan_stage(spark, sf_dir):
    """Lateral explode is a Generate inside the scan stage — no shuffle,
    no join (the oracle's lateral UNNEST is a correlated join; Spark's
    generator must not be)."""
    plan = plan_of(spark, sf_dir, "posexplode_doc_words")
    assert "Generate" in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1


def test_window_bounds_single_partitioning(spark, sf_dir):
    """first/last_value and cume_dist use two sort orders but ONE hash
    partitioning on o_custkey — the plan must not re-exchange between
    the window groups."""
    plan = plan_of(spark, sf_dir, "window_bounds_cume_dist")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2


def test_reservoir_prunes_before_shuffle(spark, sf_dir):
    """rank<=3 must push a WindowGroupLimit below the exchange so each
    map task forwards at most 3 rows per user, not the whole log."""
    plan = plan_of(spark, sf_dir, "events_reservoir_per_user")
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan


def test_mad_stats_single_scan_no_joins(spark, sf_dir):
    """mad_stats derives the deviation histogram FROM the value
    histogram with partition windows (never a join-back, which would
    re-plan the scan subtree): raw events scanned exactly once, zero
    joins. A regression here silently multiplies the raw-scan cost."""
    plan = plan_of(spark, sf_dir, "mad_outlier_value_stats")
    assert plan.count("events.parquet") == 1, "raw scan duplicated"
    assert "Join" not in plan


def test_pareto_frontier_is_two_window_passes_no_join(spark, sf_dir):
    """The skyline must stay the window form (the textbook NOT-EXISTS
    would plan a nested loop): a fully-parallel LOCAL dominance pass
    partitioned by (keys, spark_partition_id) — without it the 100×
    bench measured 11× growth, one core sorting each whole group —
    then the global pass over the tiny survivor set. Two hash
    exchanges, RANGE frames, zero joins."""
    plan = plan_of(spark, sf_dir, "pareto_front_orders_price_recency")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "SPARK_PARTITION_ID" in plan      # the local prefilter key
    assert "RangeFrame" in plan


def test_sweep_plans_sessionization_once(spark, sf_dir):
    """interval_concurrency explodes both endpoints in ONE pass; a
    union of two selects would plan the whole upstream sessionization
    (lag window over events) twice — the exact regression caught by
    plan inspection when this operator landed."""
    plan = plan_of(spark, sf_dir, "peak_concurrent_sessions_daily")
    # one Window OPERATOR carrying the lag (it holds two lag exprs);
    # a duplicated subtree would plan a second Window [lag...] node
    assert plan.count("Window [lag") == 1, "sessionization planned twice"
    assert "Join" not in plan


def test_ema_joins_broadcast_pre_aggregate_not_raw(spark, sf_dir):
    """The 20-lag decayed self-join must run on the tiny per-(type,day)
    pre-aggregate via broadcast — never a sort-merge join on raw
    events."""
    plan = plan_of(spark, sf_dir, "ema_daily_value_halflife")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_allocation_and_gini_broadcast_all_dims(spark, sf_dir):
    """The weight-building star joins broadcast every dim; the window
    math then runs on the tiny aggregate."""
    for name in ("allocate_budget_by_nation_revenue",
                 "gini_revenue_concentration_by_region"):
        plan = plan_of(spark, sf_dir, name)
        assert plan.count("BroadcastHashJoin") == 3, name
        assert "SortMergeJoin" not in plan, name


def test_trend_slope_is_two_aggregations_no_join(spark, sf_dir):
    """Exact-moment OLS: daily pre-aggregate + moment aggregate — two
    keyed shuffles, no join, no window."""
    plan = plan_of(spark, sf_dir, "trend_slope_daily_revenue_by_type")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_bucketed_royalties_fact_join_needs_no_shuffle(spark, sf_dir):
    """royalties_monthly_usd_bucketed exists to kill the measured worst
    scaler (the lineitem⋈orders shuffle, 10× wall-clock at 100× data —
    BENCH_DIFF.md §scaling): with both facts bucketed on the order key,
    the fact-fact join must consume the bucketed distribution directly —
    no Exchange on either orderkey side; the only shuffle left is the
    (month, provider) aggregate's. Broadcast is disabled so bucket
    co-location (not a lucky small-table broadcast of orders) is what
    removes the shuffle; the dims keep their explicit broadcast hints."""
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, sf_dir, "royalties_monthly_usd_bucketed")
        assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
        assert "SortMergeJoin [l_orderkey" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def test_variant_extract_no_python_single_agg_tree(spark, sf_dir):
    """Variant extraction must stay JVM-side (the whole point vs a
    Python UDF json path) and the per-type aggregate must be the usual
    partial/final pair over ONE scan — exchanges: the fixture rebalance
    + the distinct-count two-phase pair."""
    plan = plan_of(spark, sf_dir, "variant_nested_extract")
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange ") <= 3


def test_mta_topn_plan_is_linear_equi_joins_only(spark, sf_dir):
    """The bounded attribution twin exists because the unbounded pair
    range join is the measured ×10⁴ intermediate on co-active users.
    Its plan must therefore contain NO non-equi join of any kind — the
    candidate set is built by explode(sequence(...)) (≤N rows per
    purchase by construction) and joined back on (user_id, click_seq)
    equality; the window's lower bound is a post-join FILTER, never a
    join condition Spark would have to nested-loop."""
    plan = plan_of(spark, sf_dir, "multitouch_attribution_topn")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the one fact-fact join is keyed on (user_id, click_seq)
    assert "Generate explode" in plan, plan


def test_quarantine_split_is_one_scan_no_join(spark, sf_dir):
    """The quarantine split must be a coalesce inside the re-read's own
    aggregate — not a corrupt/clean self-join or a second pass over the
    files."""
    plan = plan_of(spark, sf_dir, "corrupt_json_quarantine")
    assert "Join" not in plan
    # one grouped aggregate over one json scan: partial+final = 1 shuffle
    assert plan.count("Exchange ") <= 1
    assert plan.lower().count("scan json") == 1


def test_mixture_resample_broadcasts_quotas_single_fact_window(spark, sf_dir):
    """The mixture gate's scale shape: quotas reach the corpus via a
    BROADCAST join (the quota frame is #sources rows), the within-source
    rank is ONE window pass, and nothing cross-joins — the only
    SortMergeJoin-able relation is the corpus itself and it never
    self-joins."""
    plan = plan_of(spark, sf_dir, "doc_mixture_resample")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "PythonUDF" not in plan
    # two-pass corpus rank (the pareto-prefilter pattern): a local
    # (source, SPARK_PARTITION_ID) top-quota pass feeds the global
    # per-source rank, so a skewed source never sorts its whole extent
    # on one reducer
    assert plan.count("windowspecdefinition(source") == 2
    assert "SPARK_PARTITION_ID" in plan
    # quotas were materialized at construction (the validation collect),
    # so the returned plan holds ONE broadcast join of a literal quota
    # frame — no count-by-source recomputation per execution
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("Scan parquet") + plan.count("FileScan parquet") <= 2


def test_feature_snapshot_preaggregates_before_cutoff_join(spark, sf_dir):
    """The feature matrix must join cutoffs onto the (user, type, day)
    PRE-AGGREGATE, never the raw fact: the plan's one non-broadcast-hash
    join (the 4-row cutoff dim rides a range condition, so it plans as
    a broadcast nested loop) must sit ABOVE a HashAggregate, and the
    raw events scan must feed that aggregate first."""
    plan = plan_of(spark, sf_dir, "feature_snapshot_user_weekly")
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    # the BNLJ consumes the aggregate's output, not the scan directly:
    # the aggregate must appear below the join in the tree dump
    join_at = plan.index("BroadcastNestedLoopJoin")
    assert "HashAggregate" in plan[join_at:], (
        "no pre-aggregate below the cutoff join — the range join would "
        "touch raw events at scale")


def test_shipped_session_keeps_aqe_skew_join_effective(spark):
    """The royalties fact-fact join's measured skew answer is AQE's
    runtime splitter (BENCH_DIFF §r8: 2.18× on the hot-orderkey
    fixture, vs salting 0.20× and bucketing 0.74×) — but nothing
    pinned that the SHIPPED session keeps it effective, so a future
    session.py edit could silently regress the default. Two legs:
    (a) conf-guard — RUNTIME_CONFS must ship adaptive + skewJoin on,
    and apply_runtime_confs must pin them onto an already-built
    session; (b) functional — a royalties-shaped skewed fact-fact
    join (60% of lineitem-side rows on ONE hot orderkey) run under
    the shipped session must show the skew split (`skew=true`) in the
    FINAL adaptive plan. The skew thresholds are lowered to make the
    tiny fixture cross them — thresholds are data-scale tuning; the
    ENABLEMENT under test is what ships."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.session import (RUNTIME_CONFS,
                                                    apply_runtime_confs)

    # (a) the shipped conf set carries the skew machinery…
    assert RUNTIME_CONFS["spark.sql.adaptive.enabled"] == "true"
    assert RUNTIME_CONFS["spark.sql.adaptive.skewJoin.enabled"] == "true"
    # …and the registry wrapper re-pins it onto a foreign session
    apply_runtime_confs(spark)
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"

    # (b) the skew split actually fires on a royalties-shaped join
    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    prior = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        lineitem = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 6, F.lit(7))
            .otherwise(F.col("id") % 1000).alias("l_orderkey"),
            (F.col("id") * 2).alias("cents"))
        orders = spark.range(1000).select(
            F.col("id").alias("l_orderkey"),
            F.lit("1996-01").alias("month"))
        report = (
            lineitem.join(orders, "l_orderkey")
            .groupBy("month").agg(F.sum("cents").alias("cents"))
        )
        report.collect()  # the SAME query execution must be adaptive-final
        plan = report._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "SortMergeJoin(skew=true)" in plan, plan
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)


def test_ntile_global_rank_avoids_full_table_single_partition(spark, sf_dir):
    """r11 (VERDICT r10 item 7): ntile_customer_quartiles routes
    through the two-phase global rank. The plan must range-partition
    the table (each bucket ranks in its own task) and keep exactly ONE
    single-partition exchange — the B-row bucket-offsets window, whose
    child is the tiny per-bucket count AGGREGATE, never the table
    scan. The old plan was one SinglePartition exchange feeding a
    Window over the whole customer table."""
    plan = plan_of(spark, sf_dir, "ntile_customer_quartiles")
    assert "rangepartitioning" in plan, "two-phase bucketing missing"
    assert plan.count("Exchange SinglePartition") == 1
    # the single-partition segment must be the offsets frame: its
    # subtree (printed below it) aggregates before any file scan
    below = plan.split("Exchange SinglePartition", 1)[1]
    agg_pos = below.find("HashAggregate")
    scan_pos = below.find("FileScan")
    assert agg_pos != -1 and (scan_pos == -1 or agg_pos < scan_pos), (
        "the SinglePartition exchange feeds the table, not the B-row "
        "offsets aggregate")
    # and the full-table window is partitioned (by the range bucket id)
    assert "windowspecdefinition(_pid" in plan
