"""Round-6 tenth-wave additions: nearest as-of join and RLE layout
report."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.catalog import load

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestAsofNearest:
    def test_nearest_semantics_vs_bruteforce(self, spark):
        out = {r["event_id"]: r for r in QUERIES["ext_asof_nearest"](spark, SF_DIR).collect()}
        assert out
        e = (
            load(spark, SF_DIR, "events")
            .where(F.col("event_type").isin("purchase", "click"))
            .select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("us"))
            .toPandas()
        )
        clicks = e[e.event_type == "click"]
        tol = 30 * 60 * 1_000_000
        checked = 0
        for eid, r in list(out.items())[:50]:
            probe = e[e.event_id == eid].iloc[0]
            cand = clicks[clicks.user_id == probe.user_id]
            dists = sorted(abs(cand.us - probe.us))
            if r["nearest_dir"] == "none":
                assert not dists or dists[0] > tol
            else:
                assert r["nearest_dist_us"] == dists[0] <= tol
            checked += 1
        assert checked

    def test_backward_preferred_on_ties(self, spark):
        # semantic contract: every matched distance is within tolerance
        for r in QUERIES["ext_asof_nearest"](spark, SF_DIR).collect():
            if r["nearest_dir"] != "none":
                assert 0 <= r["nearest_dist_us"] <= 30 * 60 * 1_000_000


class TestRleRuns:
    def test_clustering_collapses_runs(self, spark):
        out = {(r["layout"], r["col_name"]): r for r in QUERIES["ext_rle_runs_report"](spark, SF_DIR).collect()}
        assert len(out) == 4
        for col in ("o_orderstatus", "o_orderpriority"):
            nat = out[("natural", col)]
            clu = out[("clustered", col)]
            assert nat["n_rows"] == clu["n_rows"]
            # the whole point: clustering must reduce runs dramatically
            assert clu["n_runs"] < nat["n_runs"] // 10
            assert 1 <= clu["n_runs"]
        # under the clustered order the leading column's runs = its NDV
        ndv = (
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .select("o_orderstatus")
            .distinct()
            .count()
        )
        assert out[("clustered", "o_orderstatus")]["n_runs"] == ndv


class TestAqeSkew:
    def test_skew_split_proven_in_band(self, spark):
        r = QUERIES["join_aqe_skew"](spark, SF_DIR).collect()[0]
        assert r["skew_applied"] is True
        assert r["n_rows"] == 200_000
        # confs restored after the eager demonstration
        assert spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor") != "2"
