"""Round-6 twenty-second wave: video keyframes, autocomplete index,
reciprocal-rank fusion."""

from __future__ import annotations

import os

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.multimodal import MM_DOC_LIMIT
from databricks_sales_etl_pipeline_spark.extensions.textmeta import (
    AUTOC_MAX_PREFIX,
    AUTOC_TOPK,
    BM25_TERMS,
    RRF_K,
    RRF_TOPK,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestVideoKeyframe:
    def test_recovers_planted_scene_structure(self, spark):
        out = {}
        for r in QUERIES["mm_video_keyframe"](spark, SF_DIR).collect():
            out.setdefault(r["doc_id"], []).append(r)
        assert out
        for doc_id, rows in out.items():
            assert doc_id < MM_DOC_LIMIT
            n_scenes = doc_id % 3 + 2
            per_scene = doc_id % 2 + 2
            rows.sort(key=lambda r: r["scene_idx"])
            # detection recovers the planted structure exactly
            assert [r["scene_idx"] for r in rows] == list(range(n_scenes))
            for s, r in enumerate(rows):
                # keyframe = first frame of the shot
                assert r["keyframe_f"] == s * per_scene
                assert r["n_frames_in_scene"] == per_scene
                # pixel sum matches the generator formula for that frame
                want = sum(
                    ((doc_id % 40) * 31 + s * 97 + i * 11) % 200
                    + (doc_id * 7 + i) % 2
                    for i in range(64)
                )
                assert r["keyframe_pixel_sum"] == want


class TestPrefixAutocomplete:
    def test_matches_python_index(self, spark):
        docs = [
            r["text"]
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
        ]
        from collections import Counter, defaultdict

        counted = defaultdict(Counter)
        for text in docs:
            for tok in [t for t in text.lower().split() if t]:
                for k in range(1, min(AUTOC_MAX_PREFIX, len(tok)) + 1):
                    counted[tok[:k]][tok] += 1
        out = {}
        for r in QUERIES["ext_prefix_autocomplete"](spark, SF_DIR).collect():
            out.setdefault(r["prefix"], []).append(r)
        assert set(out) == set(counted)
        for prefix, rows in out.items():
            rows.sort(key=lambda r: r["rk"])
            want = sorted(
                counted[prefix].items(), key=lambda kv: (-kv[1], kv[0])
            )[:AUTOC_TOPK]
            assert [(r["word"], r["freq"]) for r in rows] == want
            assert [r["rk"] for r in rows] == list(range(1, len(want) + 1))


class TestRetrievalRrf:
    def test_fusion_arithmetic_and_rank_consistency(self, spark):
        out = {}
        for r in QUERIES["ext_retrieval_rrf"](spark, SF_DIR).collect():
            out.setdefault(r["term"], []).append(r)
        assert set(out) <= set(BM25_TERMS)
        for term, rows in out.items():
            assert len(rows) <= RRF_TOPK
            for r in rows:
                assert (
                    r["rrf_ppm"]
                    == 1_000_000 // (RRF_K + r["rank_tf"])
                    + 1_000_000 // (RRF_K + r["rank_pos"])
                )
            rows.sort(key=lambda r: r["rk"])
            keys = [(-r["rrf_ppm"], r["doc_id"]) for r in rows]
            assert keys == sorted(keys)
            # constituent ranks are valid 1-based positions; fusion may
            # legitimately top a consensus doc that is #1 in neither
            # system (that is RRF's point), so no top-k heuristic here
            for r in rows:
                assert r["rank_tf"] >= 1 and r["rank_pos"] >= 1
