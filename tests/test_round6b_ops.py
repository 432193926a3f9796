"""Round-6 second-wave additions: warehouse ETL (SCD2, ANALYZE stats,
referential integrity, gap-fill/ffill, zone maps) and retail analytics
(cohort LTV, basket rules, SRM, windowed funnel) — semantic invariants
beyond the hash parity gate."""

from __future__ import annotations

import os
from collections import defaultdict

from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestScd2:
    def test_interval_chain(self, spark):
        out = QUERIES["ext_scd2_build"](spark, SF_DIR).collect()
        assert out
        by_user = defaultdict(list)
        for r in out:
            by_user[r["user_id"]].append(r)
        for user, rows in by_user.items():
            rows.sort(key=lambda r: r["version"])
            # versions are dense 1..n, exactly one open current row
            assert [r["version"] for r in rows] == list(range(1, len(rows) + 1))
            assert sum(r["is_current"] for r in rows) == 1
            assert rows[-1]["is_current"] == 1 and rows[-1]["valid_to_us"] is None
            for prev, nxt in zip(rows, rows[1:]):
                # intervals chain with no gaps/overlaps; only real changes
                assert prev["valid_to_us"] == nxt["valid_from_us"]
                assert prev["state"] != nxt["state"]


class TestAnalyzeStats:
    def test_stats_sane(self, spark):
        out = {r["col_name"]: r for r in QUERIES["tbl_analyze_stats"](spark, SF_DIR).collect()}
        n = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
        assert set(out) == {
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_orderpriority",
            "o_totalprice_cents",
            "o_orderdate",
        }
        assert out["o_orderkey"]["ndv"] == n  # primary key
        for r in out.values():
            assert 0 < r["ndv"] <= n
            assert r["null_count"] == 0
        assert int(out["o_orderkey"]["min_repr"]) <= int(out["o_orderkey"]["max_repr"])
        assert out["o_orderstatus"]["total_chars"] is not None
        assert out["o_orderkey"]["total_chars"] is None


class TestReferentialIntegrity:
    def test_no_orphans_in_synthetic_star(self, spark):
        out = {r["relation"]: r for r in QUERIES["dq_referential_integrity"](spark, SF_DIR).collect()}
        assert len(out) == 4
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
        assert out["lineitem.l_orderkey->orders"]["fact_rows"] == li
        for r in out.values():
            assert r["orphan_rows"] == 0 and r["orphan_ppm"] == 0


class TestGapFill:
    def test_ffill_semantics(self, spark):
        out = QUERIES["ext_gap_fill_ffill"](spark, SF_DIR).collect()
        by_nation = defaultdict(list)
        for r in out:
            by_nation[r["nation"]].append(r)
        saw_gap = False
        for nation, rows in by_nation.items():
            rows.sort(key=lambda r: r["m"])
            months = [r["m"] for r in rows]
            assert months == list(range(months[0], months[-1] + 1)), "dense spine"
            last = None
            for r in rows:
                if r["rev_cents"] is not None:
                    assert r["was_gap"] == 0
                    last = r["rev_cents"]
                else:
                    assert r["was_gap"] == 1
                    saw_gap = True
                assert r["filled_cents"] == last  # ffill carries last observation
        assert saw_gap, "subsampled grid must actually contain gaps"


class TestZoneMap:
    def test_skipping_is_lossless(self, spark):
        out = QUERIES["ext_zone_map_stats"](spark, SF_DIR).collect()
        assert {r["zone_id"] for r in out} == set(range(1, 65))
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        n = orders.count()
        assert sum(r["n_rows"] for r in out) == n
        matching = orders.where(
            (F.col("o_orderdate").cast("date") >= F.lit("1998-01-01"))
            & (F.col("o_orderdate").cast("date") < F.lit("1998-07-01"))
        ).count()
        # every matching row lives in a hit zone → skipping loses nothing
        assert sum(r["rows_matching"] for r in out) == matching
        for r in out:
            if r["zone_hit"] == 0:
                assert r["rows_matching"] == 0
        # the date-clustered layout must actually prune most zones
        assert sum(r["zone_hit"] for r in out) < 16


class TestCohortLtv:
    def test_cumulative_prefix(self, spark):
        out = QUERIES["ext_cohort_ltv"](spark, SF_DIR).collect()
        by_cohort = defaultdict(list)
        for r in out:
            assert r["month_offset"] >= 0
            by_cohort[r["cohort"]].append(r)
        for cohort, rows in by_cohort.items():
            rows.sort(key=lambda r: r["month_offset"])
            assert rows[0]["month_offset"] == 0, "cohort month itself has revenue"
            acc = 0
            for r in rows:
                acc += r["rev_cents"]
                assert r["cum_rev_cents"] == acc


class TestBasketRules:
    def test_rule_arithmetic(self, spark):
        out = QUERIES["ext_basket_rules"](spark, SF_DIR).collect()
        assert len(out) == 20
        lifts = [r["lift_ppm"] for r in out]
        assert lifts == sorted(lifts, reverse=True)
        for r in out:
            assert r["brand_a"] < r["brand_b"]
            assert r["pair_cnt"] <= min(r["cnt_a"], r["cnt_b"])
            assert r["support_ppm"] <= r["conf_ppm"]  # n_orders >= cnt_a


class TestSrm:
    def test_counts_and_flag(self, spark):
        r = QUERIES["ext_ab_srm_check"](spark, SF_DIR).collect()[0]
        e = spark.read.parquet(f"{SF_DIR}/events.parquet")
        viewers = e.where(F.col("event_type") == "view").select("user_id").distinct().count()
        assert r["n_a"] + r["n_b"] == viewers
        assert r["delta"] == r["n_a"] - r["n_b"]
        expect_flag = 1 if r["chi2_ppm"] > 3_841_000 else 0
        assert r["srm_flag"] == expect_flag
        # a correct md5 coin on thousands of users must not trip SRM
        assert r["srm_flag"] == 0


class TestFunnelWindowed:
    def test_monotone_and_bounded(self, spark):
        out = {r["stage"]: r for r in QUERIES["ext_funnel_windowed"](spark, SF_DIR).collect()}
        assert out[1]["n_users"] >= out[2]["n_users"] >= out[3]["n_users"]
        assert out[1]["conv_from_prev_ppm"] == 1_000_000
        for s in (2, 3):
            if out[s]["conv_from_prev_ppm"] is not None:
                assert 0 <= out[s]["conv_from_prev_ppm"] <= 1_000_000
