"""Physical-plan assertions (the 100 TB posture, SURVEY §4): broadcasts
where intended, filters and column pruning pushed into the parquet scans,
no driver-side anti-patterns. These guard against regressions that stay
correct but stop scaling."""

from __future__ import annotations

import pytest

from databricks_sales_etl_pipeline_spark.registry import QUERIES, load_all
from tests.conftest import SF_DIR

load_all()


def _explain(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_star_join_broadcasts_dims(spark):
    plan = _explain(spark, "join_star_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # nation & region at minimum
    assert "CartesianProduct" not in plan


def test_star_join_prunes_lineitem_columns(spark):
    plan = _explain(spark, "join_star_revenue")
    # lineitem scan must read only the 3 referenced columns
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_star_join_pushes_date_filter(spark):
    plan = _explain(spark, "join_star_revenue")
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(r_name,ASIA)" in plan


def test_filter_range_pushdown(spark):
    plan = _explain(spark, "filter_range")
    assert "PushedFilters: [IsNotNull" in plan
    assert "GreaterThan(o_totalprice,200000.0)" in plan


def test_topk_uses_take_ordered(spark):
    plan = _explain(spark, "topk_recent_days")
    assert "TakeOrderedAndProject" in plan  # no global sort for ORDER BY+LIMIT


def test_semi_join_is_semi(spark):
    plan = _explain(spark, "join_semi")
    assert "LeftSemi" in plan


def test_group_agg_is_partial_final(spark):
    plan = _explain(spark, "agg_group_category")
    # partial (map-side) + final HashAggregate pairs
    assert plan.count("HashAggregate") >= 2


# streaming / sink / eager queries excluded: side effects or no lazy plan
_PLAN_AUDIT_SKIP = {
    "stream_watermark_agg",
    "stream_stateful_counter",
    "stream_dedup",
    "stream_stream_join",
    "sink_overwrite",
    "sink_append",
    "sink_merge_schema",
    "sink_schema_drift",
    "tbl_time_travel",
    "tbl_optimize_roundtrip",
    "sink_partitioned_prune",
    "src_csv_roundtrip",
    "src_json_roundtrip",
    "ext_dedup_minhash",  # pyspark.ml fit() is eager
}

# queries where a broadcast nested-loop join is the INTENDED plan (tiny
# broadcast side, non-equi or inequality condition)
_NLJ_ALLOWED = {
    "join_range_bands",
    "ext_similarity_topk",
    "ext_similarity_ivf",
    "ext_edit_distance",
    "setop_union_all",
    # 1-row global-bounds broadcast fanned out to the type spine: the NLJ
    # build side is literally one row, O(|types|)·1 — the right plan
    "ext_gapfill_locf",
    # same pattern: 1-row corpus-size aggregate broadcast into the scoring
    "ext_tfidf_relevance",
    # inherits ext_similarity_topk's sanctioned bounded-query-set NLJ
    "ext_knn_classify",
    # scalar-subquery pattern: ONE-row global aggregate broadcast, compared
    # by inequality — the nested-loop probe costs O(n)·1, the right plan
    "tpch_q11",
    # 1-row global aggregate × 1-row top-lang: the dataset-card join is 1×1
    "ext_dataset_card",
    # 1-row global high-water-mark broadcast onto the per-type rows
    "dq_freshness",
    "tpch_q22",
    # composes ext_similarity_topk + _ivf, inheriting their sanctioned
    # 1-row norm-sums broadcast (similarity.py:334)
    "ext_ann_recall_report",
    # 1-row corpus-size aggregate broadcast into the lift denominator
    "ext_cooccurrence_lift",
    # 1-row total-token-count aggregate broadcast into the HH threshold
    "ext_heavy_hitters",
    # chain of 1-row census aggregates (vertices/edges/wedges/triangles)
    "ext_graph_triangles",
    # 1-row global min-class-size broadcast into the acceptance predicate
    "ext_class_rebalance",
    # 1-row class-counts broadcast into the cross-multiplied margin
    "ext_quality_classifier",
    # round-6 ops with the same sanctioned 1-row global-aggregate
    # broadcast fan-out (reference date / horizon / totals): the NLJ build
    # side is literally one row
    "ext_rfm_segmentation",
    "ext_churn_label",
    "ext_seasonality_dow",
    "ext_benford_check",
    "ext_drift_report",
    "ext_skew_diagnose",
    "pipeline_feature_store",
    # round-6 second wave: 1-row scalar-aggregate broadcast again — the
    # basket-rules order total fanned into the lift denominator
    "ext_basket_rules",
    # calendar-sized (days × words) spine cross-join densifying the bitmap
    # relation before the rolling window — both sides are tiny distincts
    "ext_rolling_wau_bitmap",
    # inherits ext_similarity_topk's sanctioned bounded-query-set NLJ
    "ext_hard_negatives",
    # 1-row median/MAD (resp. global-total) aggregates broadcast back onto
    # the calendar-sized daily rollup — the scalar-subquery pattern
    "ext_anomaly_days",
    "ext_changepoint_cusum",
    # inherits ext_similarity_topk's sanctioned bounded-query-set NLJ
    "ext_eval_ndcg",
    # round-6 third wave — all the same sanctioned patterns:
    # 1-row corpus-constants (N, total tokens) broadcast into BM25 scoring
    "ext_bm25_rank",
    # tiny-distinct grid cross join (groups × segments, 25×5) + 1-row total
    "ext_t_closeness",
    # 1-row denominator/total aggregates broadcast back onto tiny series
    "ext_acf_daily",
    "ext_bootstrap_ci",
    # 8-row node table fanned out to every key — the HRW scoring shape
    "ext_rendezvous_hash",
    # 1-row order-total broadcast into support/lift denominators (appears
    # once per frequent-pair reference in the plan string)
    "ext_basket_triples",
    # calendar² pairwise-slope inequality join (daily series ≈ 2400 rows a
    # side, data-size-independent) + the 1-row n_days broadcast
    "ext_theilsen_slope",
    # 1-row scalar-aggregate broadcasts again (gini totals / KS sample
    # sizes / parent-impurity + label totals)
    "ext_gini_concentration",
    "ext_ks_test",
    "ext_feature_gini_gain",
    # tiny-relation inequality joins by construction: the 16-row subset
    # lattice (Shapley), the 10-row decile grid vs first-occurrence table
    # (vocab growth), and the week spine vs the users-sized tenure table
    # (life table) — each bounded independent of corpus size
    "ext_attribution_shapley",
    "ext_vocab_growth",
    "ext_hazard_lifetable",
    "ext_eval_mrr",
    # inherits ext_quality_classifier's 1-row class-counts broadcast
    # (fairness adds the 1-row max-rate bound on top)
    "ext_active_learning",
    "ext_fairness_report",
    # chain of 1-row census aggregates (before/after/subjects/residual ×2
    # tables) — the erasure report is six scalar broadcasts
    "ext_gdpr_erasure",
    # round-6 wave 34/35: 1-row scalar-aggregate broadcasts again — the
    # (n1, n2) sample sizes fanned into the rank-sum statistic, and the
    # 1-row max-hub normalizer fanned onto the supplier hub table
    "ext_mann_whitney",
    "ext_hits_bipartite",
    # round-6 wave 36: the constant-size band lattice (10 bands → 55
    # intervals → 220 memberships) is pure inequality joins by
    # construction, and the c-chart fans a 1-row totals broadcast onto
    # the calendar-sized daily table
    "ext_isotonic_calibration",
    "ext_control_chart_c",
    # round-6 wave 39: 1-row max-|component| normalizer broadcast onto
    # the 64-row Gram column
    "ext_pca_power_step",
    # round-6 wave 41: 1-row data-horizon (max order day) broadcast onto
    # the per-customer last-seen table — the reproducible-clock pattern
    "ext_repurchase_cycle",
    # round-6 wave 42: 1-row (n1, n2) sample-size broadcasts onto the
    # band / value-grid tables — the ext_ks_test scaffold
    "ext_tv_distance",
    "ext_wasserstein_shift",
    # round-6 wave 45: 1-row global-moments broadcast into the
    # shrinkage denominator (the scalar-subquery pattern)
    "ext_eb_shrinkage",
    # round-6 wave 48: 1-row population-total broadcast onto the
    # strata x arm grid (the scalar-subquery pattern again)
    "ext_post_stratification",
    # round-6 wave 49: 1-row covariance-moments broadcast back onto the
    # scan for the per-row distance (the scalar-subquery pattern)
    "ext_mahalanobis_2d",
    # round-6 wave 51: 1-row population / doc-count broadcasts onto the
    # pair matrix and the vocab-sized trend table
    "ext_process_mining_ef",
    "ext_term_trends",
    # round-6 wave 52: 1-row token-total and singleton-count broadcasts
    # onto the tiny frequency-of-frequencies table
    "ext_good_turing",
    # round-6 wave 54: 1-row rally-length broadcast onto the 1-row
    # pattern census; 3-row inline VALUES band join (the
    # join_range_bands shape with an inline build side)
    "ext_pattern_match",
    "sql_values_inline",
    # round-6 wave 55: 1-row pooled-moments broadcast onto the
    # 5-row strata table (the scalar-subquery pattern)
    "ext_simpson_check",
    # round-6 wave 56: banded inequality self-join of the ~30-row
    # daily table (the ext_theilsen_slope calendar^2 pattern)
    "ext_cross_correlation",
    # round-6 wave 57: the same calendar^2 pairwise join for the
    # concordance counts
    "ext_kendall_tau",
    # round-6 wave 59: 1-row class-totals broadcast onto the 10-row
    # decile sweep tables
    "ext_youden_threshold",
    "ext_gains_table",
    # round-6 wave 63: calendar^2 Walsh-pair inequality join + three
    # 1-row estimate broadcasts composed into the final report row
    "ext_robust_location",
    # round-6 wave 64: the same calendar^2 pair join + 1-row tie/count
    # broadcasts for the Mann-Kendall statistic
    "ext_mann_kendall",
    # round-6 wave 66: 1-row edge-total + community-sums broadcasts
    # onto the 25-row community table
    "ext_modularity",
    # round-6 wave 68: 1-row horizon / global-rate broadcasts onto the
    # customer tables (the scalar-subquery pattern)
    "ext_bgnbd_inputs",
    "ext_returns_abuse",
    # round-6 wave 71: two 1-row estimator broadcasts (moments; MAD)
    # fanned onto the calendar-sized daily table
    "ext_anomaly_ensemble",
    # round-6 wave 72: 1-row share-total / penny-shortfall broadcasts
    # onto the 5-row stratum table (the penny-allocation shape)
    "ext_neyman_allocation",
    # round-6 wave 73: 1-row midpoint-cutoff broadcast onto the daily
    # table (the reproducible-clock pattern)
    "ext_interrupted_ts",
    # round-6 wave 74: chain of 1-row per-round census aggregates (the
    # ext_graph_triangles shape) / 1-row observed-stat broadcast onto
    # the 200-row null table
    "ext_graph_kcore",
    "ext_permutation_test",
    # round-6 wave 76: 1-row total-count broadcast onto the 31-row
    # hypothesis table
    "ext_fdr_bh",
    # round-6 wave 78: 1-row q_hat broadcast onto the test scan
    "ext_conformal_interval",
    # round-6 wave 81: <=24-row candidate-line broadcast fan-out
    "ext_ransac_line",
    # round-6 wave 82: 1-row F-statistic broadcast onto the k-row
    # group table
    "ext_anova_oneway",
    # round-6 wave 85: 1-row moved-keys total broadcast onto the
    # per-node grouping
    "ext_consistent_hash_ring",
    # round-6 wave 87: calendar-bounded window table self-joined on an
    # rn-inequality (the brute-force matrix-profile pair sweep)
    "ext_matrix_profile",
    # round-6 wave 92: 1-row arm-diff broadcast onto the 2-row arm table
    "ext_switchback",
    # round-6 wave 93: 1-row secret/reconstruction broadcasts around the
    # 5-row share table
    "ext_shamir_shares",
    # round-6 waves 89/94/98: 1-row quartile-breaks / truth-vs-sample /
    # top-level-forecast broadcasts
    "ext_sax_symbolic",
    "ext_german_tank",
    "ext_hier_reconcile",
    # round-6 wave 100: 1-row totals broadcast onto the per-user table
    "ext_jackknife_ratio",
    # round-6 wave 101: 1-row control-limit / center-line broadcasts
    "ext_xbar_r_chart",
    "ext_nelson_rules",
    # round-6 wave 103: 1-row H-statistic broadcast onto the group rows
    "ext_kruskal_wallis",
    # round-6 wave 104: 1-row Q-statistic broadcast onto the brand rows
    "ext_friedman_test",
    # round-6 wave 105: 1-row Cochran-Q broadcast onto the brand rows
    "ext_cochran_q",
    # round-6 wave 110: 1-row revenue-total broadcast onto the point scan
    "ext_point_in_polygon",
    # round-6 wave 112: 9-row placebo-cutoff broadcast fan-out
    "ext_did_placebo",
}


def test_embedding_dedup_is_lsh_gated(spark):
    """ext_dedup_embedding must join candidates on LSH bucket equality —
    a hash-partitioned equi-join — never an all-pairs cross product
    (the O(n²) plan is the 100 TB scale-killer the gate exists to avoid)."""
    plan = (
        QUERIES["ext_dedup_embedding"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket_a" in plan and "bucket_b" in plan  # equi-join keys


def test_partitioned_read_prunes_at_planning_time(spark):
    """sink_partitioned_prune's month filter must land in PartitionFilters
    (directory-level pruning), NOT PushedFilters (file-content filtering) —
    and the scan must touch only the one matching partition."""
    df = QUERIES["sink_partitioned_prune"](spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    assert "order_month" in plan.split("PartitionFilters")[1].split("]")[0]


def test_ngram_dedup_joins_on_prefix(spark, monkeypatch):
    """ext_dedup_ngram's candidate join must consume the PPJoin prefix
    pipeline (row_number over rare-first order, rnk <= n - ceil(t*n) + 1),
    not the full inverted index — hot shingles must never enter the join.

    Round 13 checkpoints the prefix relation (its a/b self-join would
    otherwise compute the df-join + rare-first window once per branch), so
    the final plan ends at a LogicalRDD leaf; to assert the pipeline SHAPE,
    build the query with checkpointing disabled via monkeypatch."""
    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    plan = (
        QUERIES["ext_dedup_ngram"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "row_number" in plan and "rnk" in plan
    assert "CEIL" in plan or "ceil" in plan  # the prefix-length bound


def test_ngram_dedup_prefix_is_checkpointed(spark):
    """Regression guard for the round-13 fix: the production plan must scan
    the prefix relation as a materialized RDD leaf (computed once), not
    re-derive the rare-first window per self-join branch."""
    plan = (
        QUERIES["ext_dedup_ngram"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ExistingRDD" in plan
    # the window must NOT appear inline (it would mean per-branch recompute)
    assert "row_number" not in plan


def test_minhash_calibration_broadcasts_only_candidates(spark):
    """r13 verdict "What's wrong" #1: the exact-verify side of
    ext_minhash_calibration must carry exactly ONE explicit broadcast hint —
    the bounded candidate list — never the corpus-proportional
    candidates×shingles relation (a forced broadcast there bypasses
    autoBroadcastJoinThreshold → driver OOM at production scale). The
    planner stays free to pick the strategy for the rb join on its own
    size estimates."""
    df = QUERIES["ext_minhash_calibration"](spark, SF_DIR)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert logical.count("ResolvedHint") == 1, logical


#: Queries whose PRE-execution plan text legitimately repeats one shared
#: exchange subtree per consumer branch: the count below is textual, and
#: AQE's stage reuse materializes the repeats as ReusedExchange at run time
#: (proved by a dedicated test per entry). Value = allowed textual count.
_SHUFFLE_TEXT_OVERRIDES = {
    # 4 branches × (doc + gid) exchanges in text; executes as exactly 2
    # (tests/test_gram_fanout.py::test_shared_gram_hits_single_exchange).
    # ext_substring_cut needs no entry: it localCheckpoints the spans, so
    # its own plan text holds only 2 exchanges (measured).
    "ext_dedup_substring": 10,
}


def _plan_hygiene(spark, names) -> list:
    offenders = []
    for name in names:
        if name in _PLAN_AUDIT_SKIP:
            continue
        plan = (
            QUERIES[name](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        shuffles = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        nlj = plan.count("CartesianProduct") + plan.count("BroadcastNestedLoopJoin")
        if shuffles > _SHUFFLE_TEXT_OVERRIDES.get(name, 8):
            offenders.append((name, f"{shuffles} shuffles"))
        if nlj and name not in _NLJ_ALLOWED:
            offenders.append((name, "unintended nested-loop/cartesian join"))
    return offenders


def test_plan_hygiene_headline(spark):
    """Default-tier sample of the global hygiene walk: the 44 bench headline
    plans (round 14 — the full 571-query walk takes ~4.3 min alone and runs
    in the slow tier / round_close)."""
    import bench

    offenders = _plan_hygiene(spark, sorted(bench.HEADLINE))
    assert not offenders, offenders


@pytest.mark.slow
def test_plan_hygiene_all_queries(spark):
    """Global guard: no unintended cartesian/nested-loop joins, bounded
    shuffle count (true shuffles, not broadcasts) in every registered plan."""
    offenders = _plan_hygiene(spark, sorted(QUERIES))
    assert not offenders, offenders


@pytest.mark.parametrize(
    "name",
    ["agg_group_category", "join_star_revenue", "window_topn_per_group"],
)
def test_whole_stage_codegen_active(spark, name):
    # under AQE the final plan exists only after execution; the executed
    # plan marks fused pipelines with WholeStageCodegen nodes
    df = QUERIES[name](spark, SF_DIR)
    df.collect()  # count() would execute a DERIVED plan; AQE finalizes this one
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # '*(N)' prefixes = operators fused into whole-stage-codegen pipelines
    assert "*(" in plan


def test_bucketed_join_zero_exchange(spark):
    # the whole point of bucketing: scan -> SortMergeJoin -> HashAggregate
    # on the bucket key with NO shuffle anywhere in the plan
    plan = _explain(spark, "tbl_bucketed_join")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert plan.count("Bucketed: true") == 2


def test_runtime_bloom_filter_injected(spark):
    """join_runtime_bloom's fact scan must carry the runtime
    might_contain(bloom) filter — pre-shuffle row-level pruning.

    InjectRuntimeFilter skips joins whose creation side is broadcastable
    (broadcast pruning already covers those); at fixture scale EVERY dim
    is broadcastable, so the test scopes autoBroadcastJoinThreshold=-1 to
    reproduce the at-scale condition (a 100 TB filtered dim exceeds the
    threshold naturally) and restores it — the override must NOT leak
    into the shared session."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = QUERIES["join_runtime_bloom"](spark, SF_DIR)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_shuffle_order_has_no_global_window(spark):
    """ext_shuffle_order (round-6 verdict fix): the global position must be
    computed as per-range-bucket row_number + broadcast offsets — an
    unpartitioned row_number window funnels the whole corpus through ONE
    task (its plan marker is `Exchange SinglePartition`)."""
    df = QUERIES["ext_shuffle_order"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan and "pos_bucket" in plan  # bucketed window
    assert "BroadcastHashJoin" in plan              # offsets join is broadcast
