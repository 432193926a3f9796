"""Round-6 fourth-wave additions: point-in-time SCD2 join, incremental
rollup maintenance, 2-D skyline, CUPED experiment adjustment."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestPitJoin:
    def test_purchase_conservation_and_no_leakage(self, spark):
        out = QUERIES["ext_pit_join"](spark, SF_DIR).collect()
        e = spark.read.parquet(f"{SF_DIR}/events.parquet")
        n_purchases = e.where(F.col("event_type") == "purchase").count()
        assert sum(r["n_purchases"] for r in out) == n_purchases
        states = {r["state_at_purchase"] for r in out}
        # the probed dimension excludes purchases, so a purchase can never
        # be attributed to a 'purchase' state (that would be leakage)
        assert "purchase" not in states
        assert states <= {"signup", "view", "click", "error", "unknown"}

    def test_pit_uses_latest_valid_version(self, spark):
        """Spot-check one user: the state at their first purchase must be
        the last non-purchase event type at-or-before that timestamp."""
        from databricks_sales_etl_pipeline_spark.catalog import load

        e = (
            load(spark, SF_DIR, "events")
            .select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("us"))
            .toPandas()
            .sort_values(["user_id", "us", "event_id"])
        )
        pur = e[e.event_type == "purchase"]
        assert len(pur), "fixture has purchases"
        row = pur.iloc[0]
        before = e[
            (e.user_id == row.user_id)
            & (e.event_type != "purchase")
            & (e.us <= row.us)
        ]
        expected = before.iloc[-1].event_type if len(before) else "unknown"
        # recompute via the operator's own version relation semantics:
        # the census can't isolate one user, so assert the expected state
        # is at least present in the census with nonzero purchases
        out = {r["state_at_purchase"] for r in QUERIES["ext_pit_join"](spark, SF_DIR).collect()}
        assert expected in out


class TestIncrementalRollup:
    def test_merge_equals_full_recompute(self, spark):
        out = QUERIES["pipeline_incremental_rollup"](spark, SF_DIR)
        full = (
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .groupBy(F.col("o_orderdate").cast("date").alias("day"))
            .agg(
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5))
                .cast("bigint")
                .alias("rev_cents"),
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            )
        )
        got = {r["day"]: (r["rev_cents"], r["n_orders"]) for r in out.collect()}
        want = {r["day"]: (r["rev_cents"], r["n_orders"]) for r in full.collect()}
        assert got == want


class TestSkyline:
    def test_pareto_definition(self, spark):
        frontier = QUERIES["ext_skyline_2d"](spark, SF_DIR).collect()
        assert frontier
        pts = {
            (r["price_cents"], r["size"])
            for r in spark.read.parquet(f"{SF_DIR}/part.parquet")
            .select(
                F.floor(F.col("p_retailprice") * 100 + 0.5)
                .cast("bigint")
                .alias("price_cents"),
                F.col("p_size").cast("bigint").alias("size"),
            )
            .distinct()
            .collect()
        }
        fset = {(r["price_cents"], r["size"]) for r in frontier}
        assert fset <= pts
        # no point anywhere dominates a frontier point…
        for fx, fy in fset:
            for px, py in pts:
                dominates = px <= fx and py >= fy and (px < fx or py > fy)
                assert not dominates, f"({px},{py}) dominates frontier ({fx},{fy})"
        # …and every non-frontier point IS dominated by someone
        for px, py in pts - fset:
            assert any(
                qx <= px and qy >= py and (qx < px or qy > py) for qx, qy in pts
            )


class TestCuped:
    def test_variance_reduction_arithmetic(self, spark):
        r = QUERIES["ext_ab_cuped"](spark, SF_DIR).collect()[0]
        assert r["n_t"] > 0 and r["n_c"] > 0
        assert r["theta_den"] > 0, "pre-period covariate must have variance"
        raw = r["sum_y_t"] / r["n_t"] - r["sum_y_c"] / r["n_c"]
        theta = r["theta_num"] / r["theta_den"]
        adj = raw - theta * (r["sum_x_t"] / r["n_t"] - r["sum_x_c"] / r["n_c"])
        assert abs(r["raw_lift_cents"] - raw) < 1e-9
        assert abs(r["cuped_lift_cents"] - adj) < 1e-9
