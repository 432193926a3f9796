"""Round-6 third-wave additions: directed shingle containment, onboarding
path census, watermark-lateness audit, per-group OLS slope, rolling-WAU
bitmaps — semantic invariants beyond the hash parity gate."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestShingleContainment:
    def test_directed_and_bounded(self, spark):
        out = QUERIES["ext_shingle_containment"](spark, SF_DIR).collect()
        assert out, "corpus has near-dup docs, containment must find pairs"
        pairs = {(r["doc_src"], r["doc_dst"]) for r in out}
        for r in out:
            assert r["doc_src"] != r["doc_dst"]
            assert 0.6 <= r["containment"] <= 1.0
            assert r["n_common"] <= min(r["size_src"], r["size_dst"])
        # asymmetry is the point: some directed pair must lack its reverse
        # (a small doc inside a big one) OR all are mutual near-dups —
        # verify the measure itself: containment >= jaccard for every pair
        for r in out:
            jac = r["n_common"] / (r["size_src"] + r["size_dst"] - r["n_common"])
            assert r["containment"] >= jac

    def test_catches_what_jaccard_misses(self, spark):
        """Every ext_dedup_ngram pair (J >= 0.5) must appear here too
        (containment >= jaccard), proving the asymmetric gate is a
        superset of the symmetric one at comparable thresholds."""
        jpairs = {
            (r["doc_a"], r["doc_b"])
            for r in QUERIES["ext_dedup_ngram"](spark, SF_DIR).collect()
            if r["jaccard"] >= 0.6
        }
        cpairs = {
            (min(r["doc_src"], r["doc_dst"]), max(r["doc_src"], r["doc_dst"]))
            for r in QUERIES["ext_shingle_containment"](spark, SF_DIR).collect()
        }
        assert jpairs <= cpairs


class TestSessionPaths:
    def test_paths_are_valid(self, spark):
        out = QUERIES["ext_session_paths"](spark, SF_DIR).collect()
        assert 0 < len(out) <= 15
        counts = [r["n_users"] for r in out]
        assert counts == sorted(counts, reverse=True)
        types = {"signup", "view", "click", "purchase", "error"}
        for r in out:
            steps = r["path"].split(">")
            assert 1 <= len(steps) <= 5
            assert set(steps) <= types

    def test_user_conservation(self, spark):
        full = QUERIES["ext_session_paths"](spark, SF_DIR)
        # top-15 cannot exceed total users with >= 1 event
        n_users = (
            spark.read.parquet(f"{SF_DIR}/events.parquet")
            .select("user_id")
            .distinct()
            .count()
        )
        assert sum(r["n_users"] for r in full.collect()) <= n_users


class TestLateDataAudit:
    def test_census_consistent(self, spark):
        out = QUERIES["ext_late_data_audit"](spark, SF_DIR).collect()
        e = spark.read.parquet(f"{SF_DIR}/events.parquet")
        per_type = {r["event_type"]: r["n_events"] for r in out}
        truth = {
            r["event_type"]: r["cnt"]
            for r in e.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()
        }
        assert per_type == truth
        saw_late = False
        for r in out:
            assert 0 <= r["n_late"] <= r["n_events"]
            if r["n_late"] > 0:
                saw_late = True
                assert r["max_lateness_us"] is not None and r["max_lateness_us"] > 0
            assert r["late_ppm"] == (1000000 * r["n_late"]) // r["n_events"]
        assert saw_late, "2h jitter vs 30min watermark must produce late events"


class TestRegressSlope:
    def test_closed_form_matches_numpy(self, spark):
        import numpy as np

        out = {r["brand"]: r for r in QUERIES["ext_regress_slope"](spark, SF_DIR).collect()}
        assert len(out) == 25
        li = (
            spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
            .join(
                spark.read.parquet(f"{SF_DIR}/part.parquet"),
                F.col("l_partkey") == F.col("p_partkey"),
            )
            .select("p_brand", "l_discount", "l_quantity")
        )
        pdf = li.toPandas()
        brand = sorted(out)[0]
        sub = pdf[pdf.p_brand == brand]
        x = np.floor(sub.l_discount.to_numpy() * 1000 + 0.5)
        y = sub.l_quantity.to_numpy()
        expected = np.polyfit(x, y, 1)[0]
        got = out[brand]["slope"]
        assert abs(got - expected) < 1e-9
        # num/den re-derive the slope exactly
        r = out[brand]
        assert abs(r["num"] / r["den"] - got) < 1e-15


class TestRollingWau:
    def test_wau_vs_exact_distinct(self, spark):
        out = {r["day"]: r for r in QUERIES["ext_rolling_wau_bitmap"](spark, SF_DIR).collect()}
        e = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("day"),
            "user_id",
        )
        days = sorted(out)
        pdf = e.distinct().toPandas()
        by_day = pdf.groupby("day")["user_id"].apply(set).to_dict()
        for day in days:
            exact_dau = len(by_day.get(day, set()))
            window_users = set()
            for d in range(day - 6, day + 1):
                window_users |= by_day.get(d, set())
            assert out[day]["dau"] == exact_dau
            assert out[day]["wau_7d"] == len(window_users)
            assert out[day]["dau"] <= out[day]["wau_7d"]
