"""Round-6 eleventh-wave additions: fairness audit, token F1, composite
quality score."""

from __future__ import annotations

import os

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestFairness:
    def test_planted_disparity_flags(self, spark):
        out = {r["lang"]: r for r in QUERIES["ext_fairness_report"](spark, SF_DIR).collect()}
        assert "en" in out and len(out) >= 2
        # the classifier selects English by design → en is the top group
        assert out["en"]["disparate_impact_ppm"] == 1_000_000
        assert out["en"]["four_fifths_flag"] == 0
        for lang, r in out.items():
            if lang != "en":
                assert r["selection_ppm"] < out["en"]["selection_ppm"]
                assert r["four_fifths_flag"] == 1, "non-en must trip the 4/5 rule"
            assert 0 <= r["selection_ppm"] <= 1_000_000


class TestTokenF1:
    def test_lossy_generator_arithmetic(self, spark):
        out = QUERIES["ext_eval_token_f1"](spark, SF_DIR).collect()
        assert out
        for r in out:
            # prediction ⊆ reference → precision is exactly 1
            assert r["precision_ppm"] == 1_000_000
            # drops every 3rd token → recall ≈ 2/3 (short docs overshoot:
            # len=11 keeps 8 → 727272 ppm)
            assert 600_000 <= r["recall_ppm"] <= 800_000
            assert r["overlap"] == r["len_pred"]
            assert r["f1_ppm"] == (2_000_000 * r["overlap"]) // (
                r["len_ref"] + r["len_pred"]
            )


class TestQualityComposite:
    def test_score_census_conserves_corpus(self, spark):
        out = QUERIES["ext_quality_composite"](spark, SF_DIR).collect()
        n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
        assert sum(r["n_docs"] for r in out) == n_docs
        for r in out:
            assert 0 <= r["score"] <= 5
        # the synthetic corpus is wordy and diverse: most docs score high
        high = sum(r["n_docs"] for r in out if r["score"] >= 3)
        assert high > n_docs // 2
