"""Round-6 sixteenth wave: polymorphic UDTF, normal-equation OLS, image
histograms."""

from __future__ import annotations

import os

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.multimodal import (
    HIST_BINS,
    MM_DOC_LIMIT,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestUdtfAnalyzeDynamic:
    def test_dynamic_schema_and_values(self, spark):
        out = QUERIES["udtf_analyze_dynamic"](spark, SF_DIR)
        assert out.columns == ["doc_id", "tok0", "tok1", "tok2", "n_tokens"]
        rows = {r["doc_id"]: r for r in out.collect()}
        docs = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .where("doc_id < 60")
            .collect()
        }
        assert set(rows) == set(docs)
        for doc_id, text in docs.items():
            toks = [t for t in text.lower().split() if t]
            r = rows[doc_id]
            for i in range(3):
                assert r[f"tok{i}"] == (toks[i] if i < len(toks) else "")
            assert r["n_tokens"] == len(toks)


class TestOlsTwoFactor:
    def test_recovers_unit_price_and_zero_discount_effect(self, spark):
        import numpy as np

        r = QUERIES["ext_ols_two_factor"](spark, SF_DIR).collect()
        assert len(r) == 1
        r = r[0]
        pdf = (
            spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
            .selectExpr(
                "CAST(l_quantity AS BIGINT) AS x",
                "CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS z",
                "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y",
            )
            .toPandas()
        )
        X = np.column_stack(
            [np.ones(len(pdf)), pdf["x"].to_numpy(), pdf["z"].to_numpy()]
        ).astype(float)
        beta, *_ = np.linalg.lstsq(X, pdf["y"].to_numpy().astype(float), rcond=None)
        assert abs(r["intercept_cents"] - beta[0]) < max(1.0, abs(beta[0]) * 1e-6)
        assert abs(r["beta_qty_cents"] - beta[1]) < max(1.0, abs(beta[1]) * 1e-6)
        assert abs(r["beta_disc_cents"] - beta[2]) < max(1.0, abs(beta[2]) * 1e-6)
        assert r["n"] == len(pdf)


class TestImageHistogram:
    def test_matches_raster_formula(self, spark):
        out = {}
        for r in QUERIES["mm_image_histogram"](spark, SF_DIR).collect():
            out.setdefault(r["doc_id"], {})[(r["channel"], r["bin"])] = r["n_px"]
        assert out
        width = 256 // HIST_BINS
        for doc_id in list(out)[:40]:
            assert doc_id < MM_DOC_LIMIT
            w = doc_id % 16 + 1
            h = (doc_id * 3) % 12 + 1
            want: dict[tuple[int, int], int] = {}
            for i in range(w * h * 3):
                v = (doc_id * 31 + i * 7) % 256
                key = (i % 3, v // width)
                want[key] = want.get(key, 0) + 1
            assert out[doc_id] == want, doc_id
            assert sum(out[doc_id].values()) == w * h * 3
