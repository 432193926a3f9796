"""Round-6 operator tests: semantic unit tests on engineered inputs plus
the adversarial-corpus parity pin (CLAUDE.md discipline: every new
document-family operator must stay oracle-exact on NULL / empty /
whitespace-only / single-token / punctuation-only docs).
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.registry import (
    ORACLES,
    QUERIES,
    load_all,
)
from tests.conftest import SF_DIR

load_all()


# --- adversarial corpus parity (round-6 doc operators) ----------------------


class TestAdversarialCorpusParityR6:
    _NAMES = [
        "ext_ngram_lm_score",
        "ext_dedup_paragraph",
        "ext_unicode_normalize",
        "ext_countmin_sketch",
    ]

    def test_edge_corpus_parity(self, spark, tmp_path):
        rows = []
        for i in range(40):
            rows.append(
                (
                    i,
                    f"alpha beta gamma tok{i} delta epsilon zeta " * 8,
                    ["en", "de", "zh", "fr", "es"][i % 5],
                    f"src{i % 4}",
                )
            )
        rows += [
            (40, None, "en", "src0"),
            (41, "", "de", "src1"),
            (42, "   ", "zh", "src2"),
            (43, "solo", "fr", "src3"),
            (44, "!!! ???", "es", "src0"),
        ]
        d = str(tmp_path / "edge")
        spark.createDataFrame(
            rows, "doc_id bigint, text string, lang string, source string"
        ).withColumn("n_chars", F.length("text")).coalesce(1).write.parquet(
            f"{d}/documents.parquet"
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )

        def norm(v):
            if v is None:
                return None
            if not isinstance(v, (str, bytes)) and pd.isna(v):
                return None
            if isinstance(v, (np.floating, float)):
                f = float(v)
                return None if math.isnan(f) else ("f", repr(f + 0.0))
            if isinstance(v, (np.bool_, bool)):
                return ("b", bool(v))
            if isinstance(v, (np.integer, int)):
                return ("i", int(v))
            return ("s", str(v))

        def canon(pdf):
            cols = sorted(pdf.columns)
            return cols, sorted(
                (
                    tuple(norm(r[c]) for c in cols)
                    for r in pdf.to_dict("records")
                ),
                key=repr,
            )

        fails = []
        for name in self._NAMES:
            try:
                sc, sr = canon(QUERIES[name](spark, d).toPandas())
                dc, dr = canon(con.execute(ORACLES[name]).df())
                assert sc == dc, "columns"
                assert sr == dr, f"values ({len(sr)} vs {len(dr)})"
            except Exception as e:  # noqa: BLE001
                fails.append((name, str(e)[:200]))
        assert not fails, fails


# --- sketches ---------------------------------------------------------------


class TestCountMinSketch:
    def test_never_undercounts(self, spark):
        out = QUERIES["ext_countmin_sketch"](spark, SF_DIR).collect()
        assert len(out) == 10
        for r in out:
            assert r["cms_est"] >= r["exact_cnt"]
            assert r["over_count"] == r["cms_est"] - r["exact_cnt"]


class TestReservoirSample:
    def test_deterministic_and_fixed_size(self, spark):
        a = QUERIES["ext_reservoir_sample"](spark, SF_DIR).collect()
        b = QUERIES["ext_reservoir_sample"](spark, SF_DIR).collect()
        assert len(a) == 100
        assert sorted(r["o_orderkey"] for r in a) == sorted(
            r["o_orderkey"] for r in b
        )

    def test_snapshot_stability_under_append(self, spark):
        """A row's hash rank never changes, so the bottom-k of a PREFIX of
        the table is a superset-filter of the full sample: every full-table
        sample member that exists in the prefix must be in the prefix's
        sample."""
        from databricks_sales_etl_pipeline_spark.catalog import load
        from databricks_sales_etl_pipeline_spark.extensions.chunking import (
            md5_band,
        )

        o = load(spark, SF_DIR, "orders")
        prefix_keys = {
            r["o_orderkey"]
            for r in o.where("o_orderkey % 2 = 0")
            .select(
                "o_orderkey",
                md5_band(F.col("o_orderkey"), 1 << 31, "res").alias("h"),
            )
            .orderBy("h", "o_orderkey")
            .limit(100)
            .collect()
        }
        full = QUERIES["ext_reservoir_sample"](spark, SF_DIR).collect()
        for r in full:
            if r["o_orderkey"] % 2 == 0:
                assert r["o_orderkey"] in prefix_keys


class TestBitmapCohorts:
    def test_matches_exact_set_intersection(self, spark):
        from databricks_sales_etl_pipeline_spark.catalog import load

        out = {
            (r["cohort_a"], r["cohort_b"]): r
            for r in QUERIES["ext_bitmap_cohorts"](spark, SF_DIR).collect()
        }
        e = load(spark, SF_DIR, "events").select("event_type", "user_id")
        sets = {
            r["event_type"]: set()
            for r in e.select("event_type").distinct().collect()
        }
        for r in e.distinct().collect():
            sets[r["event_type"]].add(r["user_id"])
        for (a, b), row in out.items():
            assert row["n_a"] == len(sets[a])
            assert row["n_b"] == len(sets[b])
            assert row["n_intersect"] == len(sets[a] & sets[b])
            assert row["n_union"] == len(sets[a] | sets[b])


# --- feature engineering ----------------------------------------------------


class TestFeatures:
    def test_rfm_partitions_customers_exactly_once(self, spark):
        from databricks_sales_etl_pipeline_spark.catalog import load

        out = QUERIES["ext_rfm_segmentation"](spark, SF_DIR).collect()
        n_cust = (
            load(spark, SF_DIR, "orders")
            .select("o_custkey")
            .distinct()
            .count()
        )
        assert sum(r["n_customers"] for r in out) == n_cust
        for r in out:
            for c in ("r_q", "f_q", "m_q"):
                assert 1 <= r[c] <= 5

    def test_wilson_lower_bound_properties(self, spark):
        out = QUERIES["ext_rank_wilson"](spark, SF_DIR).collect()
        assert len(out) == 10
        prev = None
        for r in out:
            p_hat = r["succ"] / r["trials"]
            assert 0.0 <= r["wilson_lb"] <= 1.0
            assert r["wilson_lb"] <= p_hat  # shrinkage is downward
            if prev is not None:
                assert r["wilson_lb"] <= prev + 1e-15  # ranked descending
            prev = r["wilson_lb"]

    def test_churn_label_consistency(self, spark):
        out = QUERIES["ext_churn_label"](spark, SF_DIR).collect()
        assert out
        for r in out:
            # churned uses a timestamp cutoff, days_inactive whole dates —
            # they must agree outside the boundary day
            if r["days_inactive"] > 15:
                assert r["churned"]
            if r["days_inactive"] < 14:
                assert not r["churned"]

    def test_seasonality_accounts_every_order(self, spark):
        from databricks_sales_etl_pipeline_spark.catalog import load

        out = QUERIES["ext_seasonality_dow"](spark, SF_DIR).collect()
        assert {r["dow"] for r in out} <= set(range(1, 8))
        n = load(spark, SF_DIR, "orders").count()
        assert sum(r["n_orders"] for r in out) == n
        # a flat week scores 1e6 per day; truncating DIV loses < 1 per row
        total_idx = sum(r["seasonal_index_ppm"] for r in out)
        assert abs(total_idx - 7_000_000) < 7 * len(out)


# --- drift family -----------------------------------------------------------


class TestDrift:
    def test_benford_deviation_recomputed(self, spark):
        out = QUERIES["ext_benford_check"](spark, SF_DIR).collect()
        digits = {r["digit"] for r in out}
        assert digits <= set(range(1, 10))
        total = sum(r["cnt"] for r in out)
        for r in out:
            assert r["observed_ppm"] == (1_000_000 * r["cnt"]) // total
            assert r["deviation_ppm"] == abs(
                r["observed_ppm"] - r["benford_ppm"]
            )

    def test_snapshot_diff_classes(self, spark):
        from databricks_sales_etl_pipeline_spark.catalog import load

        out = {
            r["status"]: r
            for r in QUERIES["ext_snapshot_diff"](spark, SF_DIR).collect()
        }
        assert set(out) == {"added", "removed", "changed", "unchanged"}
        keys = [
            r["o_orderkey"]
            for r in load(spark, SF_DIR, "orders")
            .select("o_orderkey")
            .collect()
        ]
        exp = {"added": 0, "removed": 0, "changed": 0, "unchanged": 0}
        for k in keys:
            in_old, in_new = k % 97 != 0, k % 89 != 0
            if in_old and not in_new:
                exp["removed"] += 1
            elif in_new and not in_old:
                exp["added"] += 1
            elif in_old and in_new:
                exp["changed" if k % 7 == 0 else "unchanged"] += 1
        for s, n in exp.items():
            assert out[s]["n_rows"] == n, (s, n, out[s]["n_rows"])

    def test_drift_chi2_null_only_for_new_bands(self, spark):
        out = QUERIES["ext_drift_report"](spark, SF_DIR).collect()
        assert out
        for r in out:
            if r["n_base"] > 0:
                assert r["chi2_contrib_ppm"] is not None
                assert r["chi2_contrib_ppm"] >= 0
            else:
                assert r["chi2_contrib_ppm"] is None

    def test_skew_report_ordered_and_bounded(self, spark):
        out = QUERIES["ext_skew_diagnose"](spark, SF_DIR).collect()
        assert len(out) == 10
        cnts = [r["cnt"] for r in out]
        assert cnts == sorted(cnts, reverse=True)
        for r in out:
            assert 0 <= r["share_ppm"] <= 1_000_000

    def test_observed_metrics_match_direct_agg(self, spark):
        from databricks_sales_etl_pipeline_spark.catalog import load
        from databricks_sales_etl_pipeline_spark.functions.money import cents

        row = QUERIES["dq_observed_metrics"](spark, SF_DIR).collect()[0]
        direct = (
            load(spark, SF_DIR, "orders")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(cents("o_totalprice")).cast("bigint").alias("s"),
                F.max(cents("o_totalprice")).cast("bigint").alias("m"),
            )
            .collect()[0]
        )
        assert row["n_rows"] == direct["n"]
        assert row["total_cents"] == direct["s"]
        assert row["max_cents"] == direct["m"]
        assert row["null_prices"] == 0


# --- corpus / text ----------------------------------------------------------


class TestParagraphDedup:
    def test_planted_duplicate_block_removed(self, spark, tmp_path):
        block = " ".join(f"w{i}" for i in range(12))  # exactly one block
        rows = [
            (0, block + " " + " ".join(f"a{i}" for i in range(12)), "en", "s"),
            (1, block + " " + " ".join(f"b{i}" for i in range(12)), "en", "s"),
            (2, " ".join(f"c{i}" for i in range(12)), "en", "s"),
        ]
        d = str(tmp_path / "para")
        spark.createDataFrame(
            rows, "doc_id bigint, text string, lang string, source string"
        ).withColumn("n_chars", F.length("text")).coalesce(1).write.parquet(
            f"{d}/documents.parquet"
        )
        out = {
            r["doc_id"]: r
            for r in QUERIES["ext_dedup_paragraph"](spark, d).collect()
        }
        assert out[0]["n_blocks"] == 2 and out[0]["n_kept"] == 2  # keeper
        assert out[1]["n_blocks"] == 2 and out[1]["n_kept"] == 1  # lost block
        assert out[2]["n_blocks"] == 1 and out[2]["n_kept"] == 1


class TestNgramLmScore:
    def test_repetitive_doc_scores_higher(self, spark, tmp_path):
        rows = [
            # doc 0: single repeated bigram chain -> near-deterministic LM
            (0, "x y " * 30, "en", "s"),
            # doc 1: every token unique -> every bigram count 1, prefix
            # counts 1 -> still 1e6? no: unique bigrams give p=1e6 too.
            # make doc 1 share prefixes with many continuations instead:
            (1, " ".join(f"x u{i}" for i in range(30)), "en", "s"),
        ]
        d = str(tmp_path / "lm")
        spark.createDataFrame(
            rows, "doc_id bigint, text string, lang string, source string"
        ).withColumn("n_chars", F.length("text")).coalesce(1).write.parquet(
            f"{d}/documents.parquet"
        )
        out = {
            r["doc_id"]: r
            for r in QUERIES["ext_ngram_lm_score"](spark, d).collect()
        }
        # doc 1's 'x -> u_i' continuations split x's probability mass, so
        # its mean bigram probability must be far below doc 0's
        assert out[0]["mean_p_ppm"] > out[1]["mean_p_ppm"]


class TestUnicodeNormalize:
    def test_decomposed_docs_shrink_and_converge(self, spark):
        out = QUERIES["ext_unicode_normalize"](spark, SF_DIR).collect()
        assert out
        for r in out:
            if r["doc_id"] % 2 == 0:
                # precomposed input: NFC is a no-op
                assert not r["changed"]
                assert r["len_before"] == r["len_after"]
            else:
                # decomposed pairs compose -> strictly shorter iff any 'a'
                assert r["len_after"] <= r["len_before"]


# --- MDM / graph / streaming ------------------------------------------------


class TestSurvivorship:
    def test_field_precedence_rules(self, spark):
        out = {
            r["c_custkey"]: r
            for r in QUERIES["ext_survivorship_merge"](spark, SF_DIR).collect()
        }
        from databricks_sales_etl_pipeline_spark.catalog import load

        cust = {
            r["c_custkey"]: r
            for r in load(spark, SF_DIR, "customer").collect()
        }
        for k, r in out.items():
            assert r["n_records"] == 3
            c = cust[k]
            if k % 2 == 0:
                # web name is NULL -> falls back to crm's upper-cased name
                assert r["golden_name"] == c["c_name"].upper()
                assert r["name_source"] == "crm"
            else:
                assert r["golden_name"] == c["c_name"]
                assert r["name_source"] == "web"
            # web acct is always present (freshest)
            cents = math.floor(c["c_acctbal"] * 100 + 0.5)
            assert r["golden_acct_cents"] == cents + 11
            if k % 5 == 0:
                assert r["golden_segment"] == c["c_mktsegment"]  # crm fallback


class TestGraphJaccard:
    def test_bounds(self, spark):
        out = QUERIES["ext_graph_jaccard_neighbors"](spark, SF_DIR).collect()
        assert out
        for r in out:
            assert r["n_common"] <= min(r["deg_u"], r["deg_w"])
            assert 0 < r["jaccard_ppm"] <= 1_000_000


class TestStreamLeftOuterJoin:
    def test_outer_rows_flushed(self, spark):
        out = QUERIES["stream_left_outer_join"](spark, SF_DIR)
        pdf = out.toPandas()
        assert len(pdf) > 0
        # outer semantics actually exercised: some purchases lack a signup
        assert pdf["signup_ts"].isna().sum() > 0


# --- round-7-queue extras ---------------------------------------------------


class TestCdcApply:
    def test_census_matches_modular_spec(self, spark):
        from databricks_sales_etl_pipeline_spark.catalog import load

        out = {
            r["last_op"]: r
            for r in QUERIES["ext_cdc_apply"](spark, SF_DIR).collect()
        }
        keys = [
            r["o_orderkey"]
            for r in load(spark, SF_DIR, "orders").select("o_orderkey").collect()
        ]
        exp = {"I": 0, "U": 0, "D": 0}
        for k in keys:
            if k % 10 == 0:
                exp["D"] += 1
            elif k % 3 == 0:
                exp["U"] += 1
            else:
                exp["I"] += 1
        for op, n in exp.items():
            assert out[op]["n_keys"] == n, (op, n, out[op]["n_keys"])
        assert out["D"]["live_cents"] == 0


class TestSessionStats:
    def test_event_conservation(self, spark):
        from databricks_sales_etl_pipeline_spark.catalog import load

        out = QUERIES["ext_session_stats"](spark, SF_DIR).collect()
        n_events = load(spark, SF_DIR, "events").count()
        assert sum(r["total_events"] for r in out) == n_events
        for r in out:
            b = r["dur_log2_bucket"]
            if b >= 0:
                assert (1 << b) <= r["max_secs"] < (1 << (b + 1)) or r[
                    "min_secs"
                ] >= (1 << b)


class TestRobustScale:
    def test_half_of_group_within_one_iqr(self, spark):
        out = QUERIES["ext_robust_scale"](spark, SF_DIR).collect()
        assert out
        # robust_milli = 0 exactly at the median; IQR spans |milli| <= 500
        # for the central half of each group — sanity on the sampled rows
        within = sum(1 for r in out if abs(r["robust_milli"]) <= 1000)
        assert within >= len(out) // 3


class TestChainedWindows:
    def test_subwindow_counts_bounded(self, spark):
        out = QUERIES["stream_chained_windows"](spark, SF_DIR).collect()
        assert out
        for r in out:
            assert 1 <= r["n_subwindows"] <= 4  # 4 x 30min in 2h
            assert r["n_events"] >= r["n_subwindows"]


class TestLagFeatures:
    def test_rolling_consistency(self, spark):
        out = QUERIES["ext_lag_features"](spark, SF_DIR).collect()
        assert out
        by_cust = {}
        for r in out:
            by_cust.setdefault(r["o_custkey"], []).append(r)
        for rows in by_cust.values():
            rows.sort(key=lambda r: r["ym"])
            for i, r in enumerate(rows):
                # roll3 includes current row and is at least rev_cents
                assert r["roll3_cents"] >= r["rev_cents"]
                if i == 0:
                    assert r["lag1_cents"] == 0  # default fill


class TestEvalMetrics:
    def test_confusion_shares_sum_to_unity(self, spark):
        out = QUERIES["ext_eval_confusion"](spark, SF_DIR).collect()
        assert out
        by_true = {}
        for r in out:
            by_true.setdefault(r["true_lang"], []).append(r)
        for rows in by_true.values():
            total = sum(r["recall_contrib_ppm"] for r in rows)
            # truncating DIV loses < 1 ppm per cell
            assert 1_000_000 - len(rows) <= total <= 1_000_000

    def test_auc_bounds_and_symmetry(self, spark):
        out = QUERIES["ext_eval_auc"](spark, SF_DIR).collect()
        assert out
        for r in out:
            assert 0 <= r["auc_ppm"] <= 1_000_000
            assert r["n_pos"] > 0 and r["n_neg"] > 0

    def test_calibration_monotone_prediction_means(self, spark):
        out = sorted(
            QUERIES["ext_calibration_report"](spark, SF_DIR).collect(),
            key=lambda r: r["pred_decile"],
        )
        assert out
        means = [r["mean_pred_ppm"] for r in out]
        assert means == sorted(means)  # decile order implies mean order
        assert sum(r["n_docs"] for r in out) > 0


class TestFeatureImpute:
    def test_missing_rows_get_segment_median(self, spark):
        out = QUERIES["ext_feature_impute"](spark, SF_DIR).collect()
        assert out
        missing = [r for r in out if r["was_missing"]]
        present = [r for r in out if not r["was_missing"]]
        assert missing and present
        for r in out:
            assert r["acct_cents_imputed"] is not None


class TestFeatureStore:
    def test_wide_row_consistency(self, spark):
        out = QUERIES["pipeline_feature_store"](spark, SF_DIR).collect()
        assert out
        for r in out:
            assert r["aov_cents"] == r["ltv_cents"] // r["n_orders"]
            assert r["dormant"] == (r["recency_days"] > 90)


class TestJsonCorrupt:
    def test_census_matches_rule(self, spark):
        from databricks_sales_etl_pipeline_spark.catalog import load

        out = {
            r["is_corrupt"]: r
            for r in QUERIES["src_json_corrupt"](spark, SF_DIR).collect()
        }
        ids = [
            r["doc_id"]
            for r in load(spark, SF_DIR, "documents").select("doc_id").collect()
        ]
        n_bad = sum(1 for i in ids if i % 13 == 0)
        assert out[True]["n_rows"] == n_bad
        assert out[False]["n_rows"] == len(ids) - n_bad
        assert out[False]["value_sum"] == sum(
            i * 7 for i in ids if i % 13 != 0
        )
        assert out[True]["value_sum"] == 0


class TestBoilerplateLines:
    def test_planted_boilerplate_removed_everywhere(self, spark, tmp_path):
        footer = " ".join(f"f{i}" for i in range(12))
        rows = [
            (i, " ".join(f"u{i}_{j}" for j in range(12)) + " " + footer, "en", "s")
            for i in range(4)  # footer df=4 >= 3 -> boilerplate
        ] + [(9, " ".join(f"solo{j}" for j in range(12)), "en", "s")]
        d = str(tmp_path / "bp")
        spark.createDataFrame(
            rows, "doc_id bigint, text string, lang string, source string"
        ).withColumn("n_chars", F.length("text")).coalesce(1).write.parquet(
            f"{d}/documents.parquet"
        )
        out = {
            r["doc_id"]: r
            for r in QUERIES["ext_boilerplate_lines"](spark, d).collect()
        }
        for i in range(4):
            assert out[i]["n_blocks"] == 2
            assert out[i]["n_removed"] == 1  # ALL copies removed, no keeper
        assert out[9]["n_removed"] == 0


class TestAudioEnergy:
    def test_frame_feature_bounds(self, spark):
        out = QUERIES["mm_audio_energy"](spark, SF_DIR).collect()
        assert out
        for r in out:
            assert r["max_frame_energy"] <= r["total_energy"]
            assert 0 <= r["loudest_frame"] < r["n_frames"]
            # 16 samples/frame, |s| <= 2048 -> energy <= 16 * 2048^2
            assert r["max_frame_energy"] <= 16 * 2048 * 2048


class TestPairDataset:
    def test_pairs_cover_docs_once(self, spark):
        from databricks_sales_etl_pipeline_spark.catalog import load

        out = QUERIES["mm_pair_dataset"](spark, SF_DIR).collect()
        n_docs = load(spark, SF_DIR, "documents").where("doc_id < 1500").count()
        assert len(out) == n_docs
        assert len({r["pair_fingerprint"] for r in out}) == n_docs


class TestModernApi:
    def test_transpose_is_one_wide_row(self, spark):
        out = QUERIES["ext_transpose"](spark, SF_DIR).collect()
        assert len(out) == 1
        assert out[0]["key"] == "revenue_cents"

    def test_crosstab_row_sums(self, spark):
        from databricks_sales_etl_pipeline_spark.catalog import load

        out = QUERIES["stat_crosstab"](spark, SF_DIR).collect()
        per_prio = {
            r["o_orderpriority"]: r["n"]
            for r in load(spark, SF_DIR, "orders")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for r in out:
            total = sum(
                r[c] for c in r.asDict() if c != "o_orderpriority_o_orderstatus"
            )
            assert total == per_prio[r["o_orderpriority_o_orderstatus"]]

    def test_sql_udf_inlines(self, spark):
        from tests.conftest import SF_DIR as sf

        df = QUERIES["sql_udf_create"](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "whole_units" not in plan  # inlined at analysis, not a UDF call


class TestIntervalMerge:
    def test_groups_are_maximal_and_disjoint(self, spark):
        out = QUERIES["ext_interval_merge"](spark, SF_DIR).collect()
        assert out
        by_cust = {}
        for r in out:
            by_cust.setdefault(r["o_custkey"], []).append(r)
        for rows in by_cust.values():
            rows.sort(key=lambda r: r["merged_start"])
            for a, b in zip(rows, rows[1:]):
                # consecutive merged ranges must NOT touch or overlap
                assert a["merged_end"] < b["merged_start"]
            for r in rows:
                assert r["span_days"] >= 30  # one order spans 2*15 days


class TestSessionBatchCrossValidation:
    def test_native_session_window_matches_islands_totals(self, spark):
        from databricks_sales_etl_pipeline_spark.catalog import load

        native = QUERIES["window_session_batch"](spark, SF_DIR).collect()
        n_events = load(spark, SF_DIR, "events").count()
        assert sum(r["n_events"] for r in native) == n_events
        stats = QUERIES["ext_session_stats"](spark, SF_DIR).collect()
        # both sessionizations must agree on the TOTAL session count
        assert len(native) == sum(r["n_sessions"] for r in stats)


class TestPseudonymize:
    def test_stable_and_distinct(self, spark):
        a = QUERIES["ext_pseudonymize"](spark, SF_DIR).collect()
        b = QUERIES["ext_pseudonymize"](spark, SF_DIR).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert len({r["pseudo_id"] for r in a}) == len(a)
        for r in a:
            assert r["acct_cents_coarse"] % 100000 == 0


class TestListaggOrdered:
    def test_csv_is_sorted(self, spark):
        out = QUERIES["agg_listagg"](spark, SF_DIR).collect()
        assert out
        for r in out:
            parts = r["nations_csv"].split(",")
            assert parts == sorted(parts)
            assert len(parts) == r["n_nations"]


class TestStreamDedupWithinWatermark:
    def test_keys_unique(self, spark):
        out = QUERIES["stream_dedup_within_watermark"](spark, SF_DIR).collect()
        keys = [(r["user_id"], r["event_type"]) for r in out]
        assert len(keys) == len(set(keys))


class TestSessionBoundarySemantics:
    def test_exact_gap_event_merges(self, spark, tmp_path):
        """Probed Spark semantics: an event at EXACTLY last + gap merges
        into the session; +1 microsecond splits. The window_session_batch
        oracle's strict `diff > gap` cut encodes this — pin it with an
        engineered tie so testdata jitter can never hide a regression."""
        import duckdb as _dd

        rows = [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:30:00"),        # exactly gap -> merges
            (1, "2024-01-01 01:00:00.000001"),  # gap + 1us -> splits
            (2, "2024-01-01 00:00:00"),
        ]
        d = str(tmp_path / "tie")
        spark.createDataFrame(rows, "user_id bigint, ts string").selectExpr(
            "CAST(user_id * 1000 AS BIGINT) AS event_id",
            "CAST(ts AS TIMESTAMP) AS ts",
            "user_id",
            "'view' AS event_type",
            "CAST(1.0 AS DOUBLE) AS value",
            "'{}' AS props",
        ).coalesce(1).write.parquet(f"{d}/events.parquet")
        out = QUERIES["window_session_batch"](spark, d).collect()
        per_user = {}
        for r in out:
            per_user.setdefault(r["user_id"], []).append(r)
        assert len(per_user[1]) == 2          # tie merged, +1us split
        assert {r["n_events"] for r in per_user[1]} == {2, 1}
        # and the oracle agrees cell-for-cell
        con = _dd.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{d}/events.parquet/*.parquet')"
        )
        oracle = con.execute(ORACLES["window_session_batch"]).df()
        assert len(oracle) == len(out)
        assert sorted(
            (r["user_id"], r["n_events"], r["dur_secs"]) for r in out
        ) == sorted(
            map(tuple, oracle[["user_id", "n_events", "dur_secs"]].values.tolist())
        )


class TestMixtureTemperature:
    def test_flattening_property(self, spark):
        out = {r["lang"]: r for r in
               QUERIES["ext_mixture_temperature"](spark, SF_DIR).collect()}
        assert len(out) == 5
        # temperature weights must be flatter than proportional: the
        # largest class loses share, the smallest gains
        big = max(out.values(), key=lambda r: r["n_docs"])
        small = min(out.values(), key=lambda r: r["n_docs"])
        if big["n_docs"] != small["n_docs"]:
            assert big["temp_ppm"] <= big["prop_ppm"]
            assert small["temp_ppm"] >= small["prop_ppm"]
        total_temp = sum(r["temp_ppm"] for r in out.values())
        assert 1_000_000 - 5 <= total_temp <= 1_000_000  # floor rounding


class TestPrAtK:
    def test_monotone_tradeoff(self, spark):
        out = sorted(
            QUERIES["ext_eval_pr_at_k"](spark, SF_DIR).collect(),
            key=lambda r: r["threshold_permille"],
        )
        assert len(out) == 5
        recalls = [r["recall_ppm"] for r in out if r["recall_ppm"] is not None]
        assert recalls == sorted(recalls, reverse=True)  # recall never rises
        for r in out:
            assert r["tp"] + r["fn"] == out[0]["tp"] + out[0]["fn"]  # fixed positives


class TestLabelProp:
    def test_vertex_conservation(self, spark):
        out = QUERIES["ext_graph_label_prop"](spark, SF_DIR).collect()
        assert out
        assert sum(r["n_vertices"] for r in out) > 0
        # community labels are vertex ids, so each must be a real vertex
        for r in out:
            assert r["community"] >= 0


class TestGroupingId:
    def test_levels_present(self, spark):
        out = QUERIES["agg_grouping_id"](spark, SF_DIR).collect()
        ids = {r["grouping_id"] for r in out}
        assert ids == {0, 1, 2, 3}
        total = [r for r in out if r["grouping_id"] == 3]
        assert len(total) == 1
        leaf_n = sum(r["n_orders"] for r in out if r["grouping_id"] == 0)
        assert leaf_n == total[0]["n_orders"]
