"""Round-6 sixth-wave additions: uncertainty sampling and nDCG ranking
evaluation."""

from __future__ import annotations

import math
import os

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestActiveLearning:
    def test_selects_minimal_margins(self, spark):
        picked = QUERIES["ext_active_learning"](spark, SF_DIR).collect()
        assert len(picked) == 25
        margins = [r["abs_margin"] for r in picked]
        assert margins == sorted(margins)
        scores = {r["doc_id"]: r["score"] for r in QUERIES["ext_quality_classifier"](spark, SF_DIR).collect()}
        # the selection threshold: nothing outside the pick has a smaller
        # margin than the largest picked one (modulo the doc_id tiebreak)
        worst_picked = margins[-1]
        picked_ids = {r["doc_id"] for r in picked}
        for doc_id, score in scores.items():
            if doc_id not in picked_ids:
                assert abs(score) >= worst_picked
        # picked margins agree with the classifier's scores
        for r in picked:
            assert abs(scores[r["doc_id"]]) == r["abs_margin"]


class TestNdcg:
    def test_ndcg_definition(self, spark):
        out = QUERIES["ext_eval_ndcg"](spark, SF_DIR).collect()
        assert len(out) == 5
        w = [1.0 / math.log2(i + 1) for i in range(1, 11)]
        exact = QUERIES["ext_similarity_topk"](spark, SF_DIR).collect()
        labels = {
            r["vec_id"]: r["label"]
            for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
        }
        for r in out:
            qid = r["query_id"]
            rows = sorted((x for x in exact if x["query_id"] == qid), key=lambda x: x["rank"])
            rel = [1 if labels[x["neighbor_id"]] == labels[qid] else 0 for x in rows]
            dcg = sum(rv * wv for rv, wv in zip(rel, w))
            idcg = sum(rv * wv for rv, wv in zip(sorted(rel, reverse=True), w))
            assert r["n_relevant"] == sum(rel)
            assert abs(r["dcg"] - dcg) < 1e-12
            assert abs(r["idcg"] - idcg) < 1e-12
            if idcg > 0:
                assert abs(r["ndcg"] - dcg / idcg) < 1e-12
                assert 0.0 <= r["ndcg"] <= 1.0
