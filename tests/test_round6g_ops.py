"""Round-6 seventh-wave additions: SCALAR_ITER pandas UDF, length
bucketing, streaming Python data source."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestScalarIter:
    def test_matches_builtin_arithmetic(self, spark):
        out = {r["o_orderstatus"]: r for r in QUERIES["udf_scalar_iter"](spark, SF_DIR).collect()}
        want = {
            r["o_orderstatus"]: r
            for r in spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .groupBy("o_orderstatus")
            .agg(
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5) + 7)
                .cast("bigint")
                .alias("adj_cents"),
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            )
            .collect()
        }
        assert set(out) == set(want)
        for k in out:
            assert out[k]["adj_cents"] == want[k]["adj_cents"]
            assert out[k]["n_orders"] == want[k]["n_orders"]


class TestLengthBucketing:
    def test_bucketing_reduces_padding(self, spark):
        rows = {r["bucket"]: r for r in QUERIES["ext_length_bucketing"](spark, SF_DIR).collect()}
        base = rows.pop(0)
        assert set(rows) == set(range(1, 17))
        # conservation: bucket docs/tokens sum to the corpus
        assert sum(r["n_docs"] for r in rows.values()) == base["n_docs"]
        assert sum(r["sum_tokens"] for r in rows.values()) == base["sum_tokens"]
        # the whole point: bucketed padding strictly beats one global batch
        bucketed_waste = sum(r["pad_waste"] for r in rows.values())
        assert bucketed_waste < base["pad_waste"]
        for r in rows.values():
            assert 0 <= r["waste_ppm"] <= 1_000_000
            assert r["pad_waste"] == r["max_len"] * r["n_docs"] - r["sum_tokens"]


class TestPythonStreamSource:
    def test_multi_batch_drain_is_lossless(self, spark):
        out = {r["category"]: r for r in QUERIES["src_python_datasource_stream"](spark, SF_DIR).collect()}
        assert set(out) == set(range(7))
        assert sum(r["n_rows"] for r in out.values()) == 203
        # ids 0..202 fully covered, no batch dropped or duplicated
        assert min(r["min_id"] for r in out.values()) == 0
        assert max(r["max_id"] for r in out.values()) == 202
        for cat, r in out.items():
            assert r["n_rows"] == len([i for i in range(203) if i % 7 == cat])
