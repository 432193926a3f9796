"""Round-6 fifth-wave additions: hard-negative mining, robust anomaly
days, CUSUM changepoint, inverted index, DISTRIBUTE BY."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestHardNegatives:
    def test_mining_semantics(self, spark):
        out = QUERIES["ext_hard_negatives"](spark, SF_DIR).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append(r)
        labels = {
            r["vec_id"]: r["label"]
            for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .where(F.col("vec_id") < 5)
            .collect()
        }
        for qid, rows in by_q.items():
            pos = [r for r in rows if r["kind"] == "pos"]
            neg = sorted((r for r in rows if r["kind"] == "neg"), key=lambda r: r["rank"])
            assert len(pos) == 1 and pos[0]["rank"] == 1
            assert pos[0]["neighbor_label"] == labels[qid]
            assert len(neg) == 3
            for r in neg:
                assert r["neighbor_label"] != labels[qid]
            sims = [r["cos_sim"] for r in neg]
            assert sims == sorted(sims, reverse=True)

    def test_negatives_are_the_nearest_wrong_label(self, spark):
        """The rank-1 negative must beat every other wrong-label vector —
        cross-check against the brute-force top-k for one query."""
        exact = QUERIES["ext_similarity_topk"](spark, SF_DIR).collect()
        hn = QUERIES["ext_hard_negatives"](spark, SF_DIR).collect()
        top = {}
        for r in exact:
            top.setdefault(r["query_id"], []).append(r)
        for qid, rows in top.items():
            mined = {r["neighbor_id"] for r in hn if r["query_id"] == qid}
            # the overall nearest neighbor is either the positive or the
            # first negative — it must be in the mined set
            best = min(rows, key=lambda r: r["rank"])
            assert best["neighbor_id"] in mined


class TestAnomalyDays:
    def test_gate_is_three_robust_sigma(self, spark):
        out = QUERIES["ext_anomaly_days"](spark, SF_DIR).collect()
        for r in out:
            assert 20000 * r["dev2"] > 44478 * r["mad4"]
            assert r["robust_z_permille"] >= 3000  # z > 3 in permille


class TestChangepoint:
    def test_split_accounting(self, spark):
        r = QUERIES["ext_changepoint_cusum"](spark, SF_DIR).collect()[0]
        assert r["pre_n"] + r["post_n"] == r["n_days"]
        assert r["pre_n"] >= 1
        assert r["max_abs_cusum"] > 0
        daily_total = (
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)).cast("bigint"))
            .collect()[0][0]
        )
        assert r["pre_sum_cents"] + r["post_sum_cents"] == daily_total


class TestInvertedIndex:
    def test_postings_sorted_and_bounded(self, spark):
        out = QUERIES["ext_inverted_index"](spark, SF_DIR).collect()
        assert out
        for r in out:
            assert r["df"] >= 20
            assert r["total_tf"] >= r["df"]
            ids = [int(x) for x in r["sample_postings"].split(",")]
            assert ids == sorted(ids)
            assert len(ids) == min(r["df"], 10)


class TestDistributeBy:
    def test_single_exchange(self, spark):
        df = QUERIES["sql_distribute_by"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the aggregate must REUSE the DISTRIBUTE BY distribution
        assert plan.count("Exchange hashpartitioning") == 1
