"""Physical-plan audits: the 100 TB design properties, asserted.

Correctness tests prove the math; these prove the PLAN — that filters
reach the scan, projections prune the read schema, dimensions
broadcast, top-k avoids global sorts, and shuffle counts match each
operator's theoretical minimum. A regression here is a scale bug even
when every value is still right.
"""

from __future__ import annotations

from severless_data_pipeline_aws_spark import plans, registry

SPECS = registry.load_all()


def _df(name, spark, sf_dir):
    return SPECS[name].fn(spark, sf_dir)


def test_filter_and_projection_pushed_to_scan(spark, sf_dir):
    df = _df("filter_project_lineitem", spark, sf_dir)
    pushed = " ".join(plans.pushed_filters(df))
    assert "l_returnflag" in pushed and "l_quantity" in pushed, pushed
    cols = plans.read_schema_columns(df)
    # projection + filter columns only (6 of lineitem's 11) — no full-width scan
    assert cols == {
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
    }


def test_flagship_pushes_date_filter(spark, sf_dir):
    df = _df("flagship_revenue_by_status_year", spark, sf_dir)
    assert any("l_shipdate" in f for f in plans.pushed_filters(df))
    # join + agg + orderBy => at most 3 shuffles before AQE trims
    assert plans.exchange_count(df) <= 3


def test_dim_enrichment_broadcasts_both_dims(spark, sf_dir):
    df = _df("join_broadcast_dim_enrichment", spark, sf_dir)
    assert plans.broadcast_join_count(df) == 2
    assert plans.exchange_count(df) == 0  # no fact-side shuffle at all


def test_topk_plans_as_take_ordered(spark, sf_dir):
    assert plans.has_take_ordered(_df("order_by_limit", spark, sf_dir))
    assert plans.has_take_ordered(_df("recent_n_events", spark, sf_dir))
    assert plans.has_take_ordered(_df("text_wordcount_topk", spark, sf_dir))


def test_exact_dedup_is_single_shuffle(spark, sf_dir):
    df = _df("dedup_exact_keep_first", spark, sf_dir)
    assert plans.exchange_count(df) == 1  # one hash partition on sha2


def test_window_is_single_shuffle(spark, sf_dir):
    df = _df("window_running_cumsum", spark, sf_dir)
    assert plans.exchange_count(df) == 1  # partitionBy(user_id) only


def test_groupby_count_is_single_shuffle(spark, sf_dir):
    df = _df("groupby_count_status", spark, sf_dir)
    # partial+final agg -> one exchange (plus possibly a sort exchange)
    assert plans.exchange_count(df) <= 2


def test_anomaly_detectors_broadcast_stats(spark, sf_dir):
    for name in ("anomaly_minmax_snap", "anomaly_zscore"):
        df = _df(name, spark, sf_dir)
        assert plans.broadcast_join_count(df) >= 1, name


def test_similarity_topk_broadcasts_queries(spark, sf_dir):
    df = _df("similarity_topk_cosine_exact", spark, sf_dir)
    plan = plans.explain_str(df)
    assert "BroadcastNestedLoopJoin" in plan or plans.broadcast_join_count(df) >= 1, plan[:500]


def test_q18_semi_join_and_topk(spark, sf_dir):
    df = _df("tpch_q18_large_volume_orders", spark, sf_dir)
    assert plans.has_take_ordered(df), "top-100 must not global-sort"
    # subquery agg shuffle + final regroup shuffle; every join broadcasts
    assert plans.exchange_count(df) <= 2
    assert plans.broadcast_join_count(df) >= 3


def test_funnel_is_one_scan_one_window_shuffle(spark, sf_dir):
    df = _df("pipeline_llm_preprocess", spark, sf_dir)
    # one data shuffle (dedup window) + the single-partition reduce
    assert plans.exchange_count(df) <= 2
    cols = plans.read_schema_columns(df)
    assert cols == {"doc_id", "text", "lang"}, "must prune to 3 columns"


def test_gap_fill_joins_rollup_not_facts(spark, sf_dir):
    df = _df("timeseries_gap_fill", spark, sf_dir)
    # span agg, hourly rollup, grid-to-rollup join: bounded shuffles
    assert plans.exchange_count(df) <= 4
    assert any("user_id" in f for f in plans.pushed_filters(df))


def test_correlated_tpch_shapes_scan_fact_once(spark, sf_dir):
    """Decorrelated subqueries must not re-scan the fact table.

    Catalyst gives DataFrame plans no common-subplan reuse, so a
    groupBy+join-back decorrelation scans lineitem twice; the window
    forms of Q2/Q15/Q17/Q21 keep it to one scan — at 100 TB the second
    fact scan would dominate the query.
    """
    for name in (
        "tpch_q2_min_cost_supplier",
        "tpch_q15_top_supplier",
        "tpch_q17_small_quantity_revenue",
        "tpch_q21_sole_returned_supplier",
    ):
        df = _df(name, spark, sf_dir)
        assert plans.table_scan_count(df, "lineitem") == 1, name


def test_hierarchical_rollup_single_scan(spark, sf_dir):
    """Both time grains must come from ONE events scan (GROUPING SETS),
    not a union of two aggregations that re-reads the fact."""
    df = _df("timeseries_rollup_hierarchical", spark, sf_dir)
    assert plans.table_scan_count(df, "events") == 1
    assert plans.exchange_count(df) <= 2  # expand+agg shuffle, final sort


def test_tpch_suite_broadcasts_dims(spark, sf_dir):
    """Multi-dim shapes keep every dimension on the broadcast side."""
    for name, min_bcast in (
        ("tpch_q7_volume_shipping", 5),
        ("tpch_q8_market_share", 5),
        ("tpch_q9_product_type_profit", 3),
        ("tpch_q21_sole_returned_supplier", 3),
    ):
        df = _df(name, spark, sf_dir)
        assert plans.broadcast_join_count(df) >= min_bcast, name


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """The engine exposes physical join-strategy control: hints must
    switch the planned join node (the 100 TB escape hatch when AQE's
    choice is wrong for a specific query)."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark import plans as P

    t = Tables(spark, sf_dir)
    left = t.orders
    right = t.customer

    merged = left.join(right.hint("merge"), left.o_custkey == right.c_custkey)
    assert P.sort_merge_join_count(merged) == 1, "merge hint must force SMJ"

    bcast = left.join(right.hint("broadcast"), left.o_custkey == right.c_custkey)
    assert P.broadcast_join_count(bcast) == 1

    shuffled = left.join(right.hint("shuffle_hash"), left.o_custkey == right.c_custkey)
    plan = bcast.sparkSession._jvm.PythonSQLUtils.explainString(
        shuffled._jdf.queryExecution(), "simple"
    )
    assert "ShuffledHashJoin" in plan, plan[:400]


def test_runtime_bloom_filter_reaches_fact_side(spark, sf_dir):
    """Runtime bloom-filter join pruning is live in this engine's config.

    At 100 TB a selective dim filter becomes a bloom filter pushed into
    the fact scan before the shuffle. The production gate is a 10 GB
    application-side scan (correctly NOT met by test data), so the test
    scales the thresholds down to prove injection works and results are
    unchanged.
    """
    from severless_data_pipeline_aws_spark.io import Tables
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        t = Tables(spark, sf_dir)
        sel = t.orders.filter(F.col("o_totalprice") > 450000)
        j = t.lineitem.join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:400]
        expected = (
            t.lineitem.join(
                t.orders.filter(F.col("o_totalprice") > 450000).hint("broadcast"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            ).count()
        )
        assert j.count() == expected
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_decontamination_broadcasts_eval_grams(spark, sf_dir):
    """The eval n-gram set is benchmark-sized regardless of corpus
    scale — it must broadcast so the training side probes map-side
    (no sort-merge join on the gram string)."""
    df = _df("dedup_decontaminate_eval_overlap", spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 1
    s = plans.explain_str(df)
    assert "SortMergeJoin" not in s, s


def test_salient_terms_broadcast_df_table(spark, sf_dir):
    """The document-frequency side is vocabulary-sized: broadcast, so
    the (doc,term) side keeps its partitioning into the window."""
    df = _df("text_top_salient_terms", spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 1
    s = plans.explain_str(df)
    assert "SortMergeJoin" not in s, s


def test_cohort_retention_no_window_no_broadcast_fact(spark, sf_dir):
    """Retention is two aggs + one co-keyed join — no window operator
    (a per-user window would serialize skewed users) and no cross
    product anywhere."""
    s = plans.explain_str(_df("funnel_cohort_retention", spark, sf_dir))
    assert "Window" not in s
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s


def test_two_stage_rerank_single_broadcast_two_windows(spark, sf_dir):
    """One broadcast of the query vectors serves both stages; the
    cascade must never fall back to a shuffle join, and both ranking
    stages are windows (coarse cut + fine re-rank)."""
    df = _df("similarity_two_stage_rerank", spark, sf_dir)
    s = plans.explain_str(df)
    assert "SortMergeJoin" not in s
    # the bounded query side broadcasts (cross join -> BroadcastNestedLoopJoin)
    assert "BroadcastNestedLoopJoin" in s or plans.broadcast_join_count(df) >= 1, s
    assert s.count("Window") >= 2, s


def test_winsorize_broadcasts_cut_table(spark, sf_dir):
    """The per-group percentile cut table is group-cardinality-sized —
    it must broadcast back onto the fact, never shuffle-join it."""
    df = _df("stats_winsorize_clip", spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 1
    assert "SortMergeJoin" not in plans.explain_str(df)


def test_conversion_funnel_single_scan(spark, sf_dir):
    """The chained conditional-min windows must share one user_id
    partitioning over ONE events scan — the whole funnel is a single
    shuffle regardless of step count (the 3-pass CTE form would scan
    the fact three times)."""
    df = _df("funnel_conversion_ordered", spark, sf_dir)
    assert plans.table_scan_count(df, "events") == 1
    s = plans.explain_str(df)
    assert "SortMergeJoin" not in s and "BroadcastHashJoin" not in s


def test_rolling_distinct_broadcasts_day_grid(spark, sf_dir):
    """The 7-day fan-out joins the (tiny) day grid by broadcast; the
    heavy side never shuffles for the join — only for the dedup and the
    final per-day aggregate."""
    df = _df("timeseries_rolling_distinct_users", spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 1
    assert plans.exchange_count(df) <= 4
    assert plans.read_schema_columns(df) == {"ts", "user_id"}


def test_interval_bucketization_single_shuffle(spark, sf_dir):
    """Bucketizing the interval join turns a non-equi range join into
    map-side explode + ONE hash aggregate — the whole point."""
    df = _df("join_interval_month_buckets", spark, sf_dir)
    assert plans.exchange_count(df) <= 1
    assert plans.read_schema_columns(df) == {
        "o_orderkey", "o_totalprice", "o_orderdate",
    }


def test_bm25_is_map_side_scored_take_ordered(spark, sf_dir):
    """Corpus stats reach the scorer as broadcasts (nested-loop on
    single-row DFs), scoring is map-only, and the top-20 must be
    TakeOrderedAndProject, never a global sort."""
    df = _df("text_bm25_topk", spark, sf_dir)
    assert plans.has_take_ordered(df)
    assert plans.exchange_count(df) <= 2  # the two single-row stat reductions
    assert plans.read_schema_columns(df) == {"doc_id", "text"}


def test_paragraph_dedup_two_shuffles(spark, sf_dir):
    """Block keep-first needs exactly the block window shuffle + the
    per-doc aggregate shuffle."""
    df = _df("dedup_paragraph_blocks_keep_first", spark, sf_dir)
    assert plans.exchange_count(df) <= 2
    assert plans.read_schema_columns(df) == {"doc_id", "text"}


def test_cumulative_distinct_reuses_user_partitioning(spark, sf_dir):
    """Both windows of the DISTINCT-count rewrite cluster on user_id;
    the plan must not exceed the two window exchanges."""
    df = _df("window_cumulative_distinct", spark, sf_dir)
    assert plans.exchange_count(df) <= 2


def test_streaks_single_partitioning_chain(spark, sf_dir):
    """distinct -> window -> island agg -> user agg all cluster by
    user_id (anchor is a narrowing, served by the same partitioning)."""
    df = _df("window_streaks_gaps_islands", spark, sf_dir)
    assert plans.exchange_count(df) <= 2
    assert plans.read_schema_columns(df) == {"ts", "user_id"}


def test_rolling_median_one_exchange(spark, sf_dir):
    df = _df("window_median_sliding", spark, sf_dir)
    assert plans.exchange_count(df) <= 1


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime bloom-filter join filter: a selective filter on the
    orders side injects a bloom-filter predicate into the lineitem scan
    BEFORE the shuffle join — the runtime analogue of static partition
    pruning, and the 100 TB lever that turns a full fact shuffle into a
    pre-filtered one. Asserts both the plan shape and that the filtered
    result is identical to the unfiltered join's."""
    from pyspark.sql import functions as F

    from severless_data_pipeline_aws_spark.io import Tables

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # test tables are far below the default creation/application
        # thresholds (meant for real clusters), so open them wide
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        t = Tables(spark, sf_dir)
        li = t.lineitem
        sel = t.orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
        joined = (
            li.join(sel, li["l_orderkey"] == sel["o_orderkey"])
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        optimized = joined._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloomfilter" in optimized, "no runtime bloom filter injected"
        with_bloom = {(r["l_returnflag"], r["n"]) for r in joined.collect()}
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    t = Tables(spark, sf_dir)
    li = t.lineitem
    sel = t.orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    plain = (
        li.join(sel, li["l_orderkey"] == sel["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert with_bloom == {(r["l_returnflag"], r["n"]) for r in plain.collect()}


def test_observation_metrics_api(spark, sf_dir):
    """df.observe(): accumulator-style metrics collected DURING an
    action with zero extra scans — how a 100 TB pipeline audits row
    counts / null rates / value sums without re-running the query.
    The observed metrics must equal a direct aggregation's answer."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from severless_data_pipeline_aws_spark.io import Tables

    ev = Tables(spark, sf_dir).events
    obs = Observation("audit")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("n_null_value"),
        F.max("user_id").alias("max_user"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    want = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("n_null_value"),
        F.max("user_id").alias("max_user"),
    ).collect()[0]
    assert got["n_rows"] == want["n_rows"] > 0
    assert got["n_null_value"] == want["n_null_value"]
    assert got["max_user"] == want["max_user"]


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partition layout + filter => partition pruning: the
    predicate must land in the scan's PartitionFilters (directory-level
    skip, no file of other partitions opened) — the static counterpart
    of the runtime bloom filter, and the reason a 100 TB landed table
    is partitioned by its hottest filter column."""
    from pyspark.sql import functions as F

    from severless_data_pipeline_aws_spark.io import Tables

    ev = Tables(spark, sf_dir).events
    out = str(tmp_path / "events_parted")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)

    df = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = plans.explain_str(df)
    assert "PartitionFilters" in plan and "click" in plan, plan[:2000]
    want = ev.filter(F.col("event_type") == "click").count()
    assert df.count() == want > 0


def test_ks_binned_never_sorts_raw_data(spark, sf_dir):
    """The binned KS plan's only window runs on the bounded bin axis:
    the per-bin count agg shuffles once on bin, the cumulative pass is
    a single-partition exchange of ~500 rows, and the totals join is a
    broadcast — the raw orders are never globally sorted."""
    df = _df("stats_ks_two_sample_binned", spark, sf_dir)
    # totals come from cumulative maxima in the SAME branch: one scan,
    # no join operators at all
    assert plans.table_scan_count(df, "orders") == 1
    assert plans.sort_merge_join_count(df) == 0
    assert plans.broadcast_join_count(df) == 0


def test_welch_t_is_one_scan_no_shuffle_joins(spark, sf_dir):
    """Welch reduces to a 1-row frame in one conditional-aggregate scan:
    single orders scan, no join operators at all."""
    df = _df("stats_welch_t_test", spark, sf_dir)
    assert plans.table_scan_count(df, "orders") == 1
    assert plans.sort_merge_join_count(df) == 0


def test_path_trigrams_topk_takes_ordered(spark, sf_dir):
    """Top-20 paths must plan as TakeOrderedAndProject (no global sort),
    with one shuffle for the user window and one for the path agg."""
    df = _df("funnel_event_path_trigrams", spark, sf_dir)
    assert plans.has_take_ordered(df)
    assert plans.table_scan_count(df, "events") == 1


def test_temperature_mixture_broadcasts_normalizer(spark, sf_dir):
    """The mixture table is source-cardinality-sized and the normalizer
    is a same-branch window fold: documents scans exactly once."""
    df = _df("sampling_temperature_mixture", spark, sf_dir)
    assert plans.table_scan_count(df, "documents") == 1
    assert plans.sort_merge_join_count(df) == 0


def test_tvd_drift_single_fact_scan_for_counts(spark, sf_dir):
    """TVD's category counts come from ONE conditional-aggregate pass;
    events is scanned at most twice (bounds + counts), never per
    category and never re-executed for the totals."""
    df = _df("stats_tvd_category_drift", spark, sf_dir)
    assert plans.table_scan_count(df, "events") <= 2


def test_cusum_windows_share_one_sort(spark, sf_dir):
    """The CUSUM rewrite chains two window aggregates (running sum, then
    running min) on the same (partition, sort) — the plan must reuse one
    exchange+sort for both Window nodes, and the totals join must
    broadcast."""
    df = _df("stats_cusum_drift_detector", spark, sf_dir)
    s = plans.explain_str(df)
    assert s.count("Window") >= 2
    between = s.split("Window")[1]  # text between the two Window nodes
    assert "Exchange" not in between and "Sort" not in between, between
    assert plans.broadcast_join_count(df) >= 1


def test_global_row_number_avoids_fact_single_partition(spark, sf_dir):
    """The two-pass row numbering must keep the fact-side window
    partitioned by bucket; the only single-partition exchange allowed is
    the metadata-scale offsets window over the bucket-count table."""
    df = _df("relational_global_row_number_scalable", spark, sf_dir)
    s = plans.explain_str(df)
    assert s.count("SinglePartition") == 1, s
    assert "hashpartitioning(bkt" in s, s


def test_kmeans_and_pca_assignment_broadcasts(spark, sf_dir):
    """Iterative linear-algebra ops must broadcast the small side
    (centroids / current vector) into a map-side cross join — the
    vectors table itself never shuffles for assignment."""
    for name in ("similarity_kmeans_lloyd", "similarity_pca_top_component"):
        s = plans.explain_str(_df(name, spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s, name


def test_market_basket_pairs_generated_map_side(spark, sf_dir):
    """The basket pair table must come from the per-order array explode,
    never a basket-key self-join: exactly one lineitem scan, no
    sort-merge join anywhere, and the part dim broadcast. The item and
    basket counts are looked up in one gathered row, never joined back."""
    df = _df("funnel_market_basket_lift", spark, sf_dir)
    assert plans.table_scan_count(df, "lineitem") == 1
    assert plans.sort_merge_join_count(df) == 0
    assert plans.broadcast_join_count(df) == 1  # the part dim


def test_geo_hotspots_take_ordered_single_shuffle(spark, sf_dir):
    """Grid binning is map-side; one exchange for the cell rollup; the
    top-15 never globally sorts."""
    df = _df("geo_grid_hotspots", spark, sf_dir)
    assert plans.has_take_ordered(df)
    assert plans.exchange_count(df) == 1


def test_skyline_no_dominance_self_join(spark, sf_dir):
    """The Pareto sweep never builds the O(n^2) dominance pair space:
    the only joins are equi-joins back on the price key (co-partitioned
    with the group shuffle), and the sweep window runs on the
    distinct-price table."""
    df = _df("relational_pareto_skyline_2d", spark, sf_dir)
    # rows + two group-derived branches; at scale the rollup is one
    # persisted table, here lineage recomputes it
    assert plans.table_scan_count(df, "orders") <= 3
    assert "CartesianProduct" not in plans.explain_str(df)
    assert "NestedLoop" not in plans.explain_str(df)


def test_attribution_single_user_shuffle(spark, sf_dir):
    """The as-of carry + channel rollup: union is shuffle-free, so the
    plan is the user_id window exchange plus the channel-grain agg."""
    df = _df("funnel_attribution_last_touch", spark, sf_dir)
    assert plans.table_scan_count(df, "events") == 2  # two branches, one union
    assert plans.sort_merge_join_count(df) == 0
    assert plans.exchange_count(df) <= 2


def test_feature_hashing_two_exchanges_no_join(spark, sf_dir):
    """Hashing-trick featurizer: explode + (doc,bucket) combine + per-doc
    map assembly — no vocabulary join anywhere."""
    df = _df("text_feature_hashing", spark, sf_dir)
    assert plans.sort_merge_join_count(df) == 0
    assert plans.broadcast_join_count(df) == 0
    assert plans.exchange_count(df) <= 2


def test_metrics_layer_rollup_consistency_and_plan(spark, sf_dir):
    """The same metric definition must agree EXACTLY across grains
    (sum-of-groups == ungrouped total — holds because leaves accumulate
    in DECIMAL), and resolution must stay one scan + broadcast joins."""
    from decimal import Decimal

    from severless_data_pipeline_aws_spark.metrics import resolve

    by_nation = resolve(spark, sf_dir, ["revenue", "n_orders"], ["nation"]).collect()
    total = resolve(spark, sf_dir, ["revenue", "n_orders"], []).first()
    assert sum(r["n_orders"] for r in by_nation) == total["n_orders"]
    # exact double equality: both sides are the same decimal total cast once
    assert float(
        sum(Decimal(str(r["revenue"])) for r in by_nation)
    ) == __import__("pytest").approx(total["revenue"], rel=1e-12)

    df = resolve(spark, sf_dir, ["aov"], ["nation", "segment"])
    assert plans.broadcast_join_count(df) == 2
    assert plans.table_scan_count(df, "orders") == 1
    row = df.collect()[0]
    assert row["aov"] > 0


# -- bucket-offset de-serialization (round-3 rewrites) ------------------------

# query -> max single-partition WINDOW operators allowed in the plan
# (plans.single_partition_window_count — final-global-aggregate shuffles
# are excluded by construction). Each allowed window is METADATA-scale:
# the exclusive prefix pass over a per-bucket count/sum/max table
# (operators/scalable.py; counted once per JOIN REFERENCE, so the
# quantile-normalize lo/hi double join counts 2 and RFM's three rank
# passes count 3) or a provably bounded frame (10 deciles, a 31-day
# grid). Anything above the cap means a fact/user-grain window
# regressed onto one partition.
_SCALABLE_WINDOW_CAPS = {
    "stats_gini_coefficient": 1,
    "stats_mann_whitney_u": 1,
    "stats_spearman_rank_corr": 2,
    "stats_quantile_normalize_sources": 2,
    "funnel_rfm_segmentation": 3,
    "funnel_pareto_revenue_concentration": 2,  # offsets + 10-row cum share
    "funnel_time_to_convert": 1,
    "window_concurrency_from_intervals": 1,
    "relational_pareto_skyline_2d": 1,
    "funnel_survival_curve": 1,  # 31-row reverse cumsum grid
    "relational_global_row_number_scalable": 1,
    "sampling_curriculum_quality_shards": 1,  # r3: bucketed NTILE(8)
    # r3 continuation: distinct-value-grain midranks / hash-order rank —
    # one metadata-scale bucket-offset prefix window each
    "stats_kruskal_wallis": 1,
    "sampling_systematic_interval": 1,
    # r4: the Theil-Sen slope-median rank (VERDICT #7 long-horizon
    # hardening) — bucket = floor(slope*8), offsets prefix only
    "stats_theil_sen_daily_trend": 1,
    # r4: Hodges-Lehmann pairwise-diff median — bucket = diff DIV 8,
    # offsets prefix only (same calendar-bounded contract as Theil-Sen)
    "stats_hodges_lehmann_shift": 1,
    # r6: exact unbinned KS — ECDFs cumulate at distinct-value grain via
    # bucket-offset (bucket = x DIV 65536), prefix pass is metadata-scale
    "stats_ks_exact_two_sample": 1,
    # r6: word-length share denominator — one window over the ~30-row
    # length histogram itself (bounded grid, like survival's 31 rows)
    "text_word_length_histogram": 1,
    # r6: the 1-lag shift over the calendar-bounded day series (the
    # somers_d/day-pair contract: day tables are metadata at any SF)
    "stats_granger_causality_1lag": 1,
    # r6: CvM shares the KS bucket-offset ECDF machinery
    "stats_cramer_von_mises_two_sample": 1,
    # r6: Pettitt — value-grain midrank prefix + day-grain row_number/
    # prefix-sum/count windows, all over the calendar-bounded day table
    "stats_pettitt_change_point": 4,
    # r6: KPSS — day-grain prefix sum + row_number (calendar-bounded)
    "stats_kpss_stationarity": 1,
    # r6: token-share denominator over the 11-row frequency spectrum
    "text_frequency_spectrum_good_turing": 1,
    # r6: heatmap share over the <=168-cell grid
    "agg_weekday_hour_heatmap": 1,
    # r7: Lorenz — bucket-offset NTILE prefix pass + the 10-row
    # cum/total windows (bounded grid, like pareto's)
    "agg_lorenz_curve_deciles": 3,
    # r8: Passing-Bablok — two bucket-offset prefix passes (slope rank,
    # residual rank) + the one-row selection fold
    "stats_passing_bablok_regression": 3,
    # r8: Holm — rank/cummax over the |event types|-row test table
    # (metadata-scale, the BH contract; no bucket pass)
    "stats_holm_bonferroni_adjust": 1,
    # r10 continuation: Siegel-Tukey — bucket-offset global position
    # (bucket = floor(value)) + the offsets prefix pass
    "stats_siegel_tukey_dispersion": 1,
    # r10 continuation: Quade — day-grain block-weight rank
    # (calendar-bounded, the pettitt contract; no bucket pass)
    "stats_quade_weighted_blocks": 1,
    # r10 continuation: matrix profile — calendar-grain lead() frame
    # + the final discord rank (both day-grain; no bucket pass)
    "timeseries_matrix_profile_discord": 2,
    # r10 continuation: Fligner-Policello / Brunner-Munzel — the
    # exact-KS bucket-offset ECDF prefix pass (distinct-value grain)
    "stats_fligner_policello": 1,
    "stats_brunner_munzel": 1,
}

# queries whose every single-partition window is a bucket-offset prefix
# pass (survival's is the 31-row grid instead, so it is exempt)
_BUCKETED = set(_SCALABLE_WINDOW_CAPS) - {
    "funnel_survival_curve",
    "text_word_length_histogram",  # bounded-grid window, no bucket pass
    "stats_granger_causality_1lag",  # calendar-day lag, no bucket pass
    "stats_pettitt_change_point",  # calendar-day ranks, no bucket pass
    "stats_kpss_stationarity",  # calendar-day prefix, no bucket pass
    "text_frequency_spectrum_good_turing",  # 11-row grid, no bucket pass
    "agg_weekday_hour_heatmap",  # 168-cell grid, no bucket pass
    "stats_holm_bonferroni_adjust",  # |types|-row test table, no bucket pass
    "stats_quade_weighted_blocks",  # calendar-day weight rank, no bucket pass
    "timeseries_matrix_profile_discord",  # calendar-day windows, no bucket pass
}


def test_no_fact_grain_single_partition_windows(spark, sf_dir):
    """VERDICT r2's 10 scale-killers: every global-order operator must
    run as the two-pass bucket-offset construction — the data-grain
    window partitioned by __bkt, with at most the capped number of
    metadata-scale single-partition prefix windows."""
    for name, cap in _SCALABLE_WINDOW_CAPS.items():
        df = _df(name, spark, sf_dir)
        got = plans.single_partition_window_count(df)
        assert got <= cap, f"{name}: {got} single-partition windows (cap {cap})"
        if name in _BUCKETED:
            s = plans.explain_str(df)
            assert "hashpartitioning(__bkt" in s or "hashpartitioning(bkt" in s, (
                f"{name}: no bucket-partitioned window in plan"
            )


def test_survival_curve_no_cartesian(spark, sf_dir):
    """The survival curve must be histogram + reverse cumsum — the 31x
    grid-cross-users row blowup is gone; the only cross join left is
    the broadcast one-row user count."""
    df = _df("funnel_survival_curve", spark, sf_dir)
    s = plans.explain_str(df)
    assert "CartesianProduct" not in s, s


def test_time_to_convert_partition_invariance(spark, sf_dir):
    """The rank tie-break (latency_s, user_id) must make the output
    independent of physical partitioning."""
    from severless_data_pipeline_aws_spark.io import Tables  # noqa: F401

    df1 = _df("funnel_time_to_convert", spark, sf_dir)
    rows1 = sorted(map(tuple, df1.collect()))
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        rows2 = sorted(map(tuple, _df("funnel_time_to_convert", spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert rows1 == rows2


# ---------------------------------------------------------------------------
# Repo-wide Cartesian gate (the round-3 full-registry plan sweep, pinned).
#
# Every registered query's physical plan is swept. CartesianProduct is
# banned outright — nothing in the registry may materialize an unbounded
# pair space. BroadcastNestedLoopJoin is allowed ONLY for queries on the
# whitelist below, each of which broadcasts a provably tiny side:
#   - a one-row scalar (grand total / corpus size / table max),
#   - a bounded parameter table (query set, centroids, depth grid,
#     digit grid, decile edges, class caps, band constants), or
#   - the generator's constant spec tables.
# A new query that introduces a BNLJ must either restructure to an
# equi-join or document its bounded side by joining this list.
# ---------------------------------------------------------------------------

_BNLJ_BOUNDED_OK = {
    # one-row scalar broadcasts (grand totals, corpus stats, maxima)
    "dedup_embedding_cosine", "dq_freshness_lag_monitor",
    # the same bounded-block cosine pairs feed its components fold
    "dedup_semantic_keep_representative",
    "funnel_survival_curve",
    "funnel_time_to_convert", "graph_modularity_by_region",
    "sketch_hll_intersection_estimate", "stats_kruskal_wallis",
    "stats_quantile_normalize_sources", "stats_tvd_category_drift",
    "subquery_all_quantified", "sampling_pps_systematic",
    "text_heaps_vocab_growth",
    "timeseries_dow_seasonal_index", "tpch_q11_important_part_value",
    "tpch_q22_dormant_customers", "stats_theil_sen_daily_trend",
    "iot_flatten_wide", "iot_generated_readings",
    # (graph_hits_hubs_authorities folds its normalizations inside one
    # gathered graph row: one plan with no BNLJ to whitelist)
    "stats_hodges_lehmann_shift",
    "join_bloom_prefilter_semireduction", "similarity_silhouette_centroid",
    "stats_friedman_test", "stats_grubbs_max_outlier",
    # r5: the BH step-up cross-joins the one-row kmax scalar (the max
    # rejected rank) against the bounded per-event-type test table
    "stats_benjamini_hochberg_fdr",
    # r5 continuation: one-row scalar broadcasts (Cohen's kappa chance
    # term, Mood's pooled median, Kneser-Ney's bigram-type count) and
    # block-bounded broadcasts (the 48-vector cosine-histogram side;
    # the recall report inherits the exact-topk query-block shape)
    "stats_cohens_kappa", "stats_mood_median_test",
    "text_kneser_ney_bigram_lm", "similarity_pairwise_cosine_histogram",
    "similarity_ann_recall_report",
    # one-row corpus-size scalar broadcast into the Fano ratio
    "text_token_burstiness",
    # one-row scalar broadcasts: triad count (transitivity denominator)
    # and the corpus token total (Bhattacharyya normalizer)
    "graph_clustering_coefficient", "text_bhattacharyya_source_overlap",
    # one-row (nx, ny) totals broadcast into the CDF cross-multiply
    "stats_wasserstein_1d_emd", "stats_energy_distance_two_sample",
    # r6 verdict-oracle sketch audits: one-row GK-estimate broadcast
    # (rank re-count) and one-row freqItems-array broadcast (membership)
    "sketch_approx_quantiles", "sketch_freq_items",
    # r6: one-row (n1, n2) sample totals broadcast into the KS
    # cross-multiply sup; one-row x one-row variance join for the F test
    "stats_ks_exact_two_sample", "stats_f_test_variance_ratio",
    "stats_cramer_von_mises_two_sample", "stats_kpss_stationarity",
    # r6: three one-row check aggregates cross-assembled into the
    # 8-row generator verdict report
    "iot_generator_invariants_audit",
    # calendar-bounded day-pair theta join (<= 435 pairs per month)
    "stats_somers_d",
    # bounded parameter tables (query sets / centroids / grids / caps)
    "dq_benford_first_digit", "dq_null_rate_drift",
    "funnel_pareto_revenue_concentration", "funnel_rfm_segmentation",
    "sampling_balanced_class_undersample",
    "sampling_curriculum_quality_shards", "sampling_lang_balanced_mixture",
    "sampling_neyman_allocation", "similarity_ann_lsh",
    "similarity_hard_negative_mining", "similarity_kmeans_lloyd",
    "similarity_knn_label_vote", "similarity_pca_top_component",
    "similarity_rbo_lexical_vs_vector", "similarity_rrf_hybrid_retrieval",
    "similarity_same_vs_cross_label_margin", "similarity_topk_cosine_exact",
    "similarity_two_stage_rerank", "stats_kendall_tau_daily",
    "stats_power_analysis_proportions", "text_bigram_lift_topk",
    "text_bm25_topk", "join_cross_bounded",
    # r6: 21-row power-of-two padding-bucket literal, broadcast range join
    "pipeline_length_bucket_padding_waste",
    # r7 bounded broadcasts: one-row doubled-median scalar (runs test),
    # one-row dims/ties scalars + the 5-type literal grid (Kendall W),
    # the 30-row day grid range join (DAU/WAU/MAU), the 8-vector query
    # block (sign-Hamming), one-row edge/node/reciprocity scalars
    # (reciprocity), the 4-row threshold grid (rich club), and the
    # 3-row blackout-window literal (interval anti)
    "stats_runs_test_wald_wolfowitz",
    "stats_kendall_w_concordance",
    "agg_dau_wau_mau_stickiness",
    "similarity_sign_hamming_topk",
    "graph_reciprocity_density",
    "graph_rich_club_coefficient",
    "join_interval_blackout_anti",
    # r7: one-row customer-count broadcast into the NTILE closed form
    "agg_lorenz_curve_deciles",
    # r7: the same 8-vector query-block broadcast as sign-Hamming
    "similarity_hamming_prefilter_rerank",
    # r7: one-row map-backed bloom-words broadcast into the probe scan
    "sketch_bloom_membership_audit",
    # r7: the <=20-cell contingency grid self-cross (metadata-scale)
    "stats_goodman_kruskal_gamma",
    # r8: two one-row per-user-moment broadcasts into the item fold
    "stats_cronbach_alpha_items",
    # r8: the types x 64-register literal grid (HLL fold basis)
    "streaming_hll_register_maxes",
    # r8: one-row exact-distinct scalar joined to the one-row KMV row
    "sketch_kmv_distinct_estimate",
    # r8: the generator's device x tick axis cross (same bounded spec
    # tables as iot_generated_readings)
    "iot_generated_readings_fixedpoint",
    # r8: one-row limits broadcast back over the 30-day diff table, and
    # the |types| x calendar-day grid cross (both metadata-scale)
    "stats_bland_altman_agreement",
    "dq_calendar_completeness_by_source",
    # r8 spatial tier: one-row field-stat broadcasts (n, S, Sxx / total
    # events) into the bounded <=648-row cell lattice
    "stats_moran_i_spatial",
    "stats_getis_ord_gi_hotspots",
    "geo_dbscan_grid_clusters",
    # r8: calendar-bounded day-pair theta join + one-row selection
    # scalars (the Theil-Sen/somers_d contract)
    "stats_passing_bablok_regression",
    # r8: the types x 720-slot literal hour grid (bounded at any SF)
    "stats_hurst_rescaled_range",
    # r8: one-row total + one-row leakage-audit broadcasts
    "sampling_group_kfold_assign",
    # r9: one-row document-audit x one-row vocabulary-audit cross
    "text_bpe_decode_roundtrip_audit",
    # r9: day-grain cond<cond theta join (~150 obs rows, the
    # somers_d/Theil-Sen calendar-bounded contract) + one-row moments
    "stats_jonckheere_terpstra_trend",
    # r9: one-row digit-total broadcast (the first-digit op's shape)
    "dq_benford_second_digit",
    # r9: one-row bigram-type-count broadcast (the KN LM op's shape)
    "text_kn_doc_quality_score",
    # r9: the same 8-vector query-block broadcast as sign-Hamming
    "similarity_range_search_recall",
    # r10 continuation: the |sources|-row signature self-cross
    # (bounded like goodman_kruskal's contingency self-cross)
    "streaming_minhash_source_signature",
    # r10 continuation: the day-grain 7-day-window pair theta join
    # (calendar-bounded, the Theil-Sen/somers_d contract) reached via
    # one bounded broadcast
    "timeseries_matrix_profile_discord",
    # (r11 optimization round: the four similarity_eval_* queries left
    # this whitelist — _eval_tables now materializes gt and the cascade
    # runs via localCheckpoint, so the final eval plan is |Q| x k
    # equi-joins only; the cascades' own BNLJs are still gated through
    # their own registered plans, which remain listed here)
    # r11: the 5-row robots.txt rule literal broadcast into the
    # regexp-match scan (bounded parameter table — robots files are
    # crawl-config-bounded at any corpus scale)
    "dedup_robots_url_filter",
    # r11: the 5-vector query-block broadcast onto the |corpus|/50
    # entry points (the exact-topk contract); all hop joins are
    # equi-joins on node keys
    "similarity_ann_beam_graph",
}


def test_registry_wide_no_cartesian_and_bnlj_whitelist(spark, sf_dir):
    """Full-registry scale gate: no CartesianProduct anywhere; every
    BroadcastNestedLoopJoin is on the documented-bounded whitelist.

    Piggybacked on the same DataFrame builds (r6 verdict #2): NO
    registered query may emit an Array/Map/Struct column in its
    driver-facing output — the driver's pandas canonicalizer crashes on
    list cells (``pdf.sort_values`` -> factorize -> "unhashable type:
    'list'", the r6 red row). Complex values cross the wire as to_json
    strings or exploded scalar rows; typed arrays stay in library APIs
    (``random_projection_jl_vectors`` et al.)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    cart, stray_bnlj, unused = [], [], set(_BNLJ_BOUNDED_OK)
    complex_out = []
    for name, spec in sorted(SPECS.items()):
        df = spec.fn(spark, sf_dir)
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                complex_out.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
        s = plans.explain_str(df)
        if "CartesianProduct" in s:
            cart.append(name)
        if "BroadcastNestedLoopJoin" in s:
            unused.discard(name)
            if name not in _BNLJ_BOUNDED_OK:
                stray_bnlj.append(name)
    assert not complex_out, (
        "complex-typed driver-facing output (the driver canonicalizer "
        f"crashes on these): {complex_out}"
    )
    assert not cart, f"CartesianProduct in: {cart}"
    assert not stray_bnlj, (
        "BroadcastNestedLoopJoin outside the documented-bounded "
        f"whitelist: {stray_bnlj}"
    )
    # the whitelist may not rot: every entry must still exist and still
    # plan a BNLJ (drop entries whose query was restructured)
    assert not unused, f"stale whitelist entries (no BNLJ anymore): {unused}"


def test_embedding_exact_block_broadcasts_at_10x_cap(spark, sf_dir):
    """VERDICT r3 nit #3: the exact-tier pair bound is a module constant
    (_EMB_EXACT_BLOCK) with a stated scale contract — raising it 10x
    must still plan the bounded side as a BROADCAST nested-loop (never
    a shuffled CartesianProduct), so a grown cap degrades gracefully
    instead of silently exploding the shuffle."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.operators.dedup import (
        _EMB_EXACT_BLOCK,
        embedding_exact_pairs,
    )

    df = embedding_exact_pairs(Tables(spark, sf_dir), cap=_EMB_EXACT_BLOCK * 10)
    s = plans.explain_str(df)
    assert "BroadcastNestedLoopJoin" in s, s
    assert "CartesianProduct" not in s, s
