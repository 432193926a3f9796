"""Round-6 ninth-wave additions: video scene-cut detection and session
gap sensitivity."""

from __future__ import annotations

import os

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestSceneCut:
    def test_perfect_recovery_on_planted_scenes(self, spark):
        out = QUERIES["mm_video_scene_cut"](spark, SF_DIR).collect()
        assert out
        for r in out:
            # the fixture plants clean scene boundaries; detection must
            # recover them exactly (0 hamming inside, ~32 bits across)
            assert r["n_scenes_detected"] == r["n_scenes_true"]
            assert r["n_cuts"] == r["n_scenes_true"] - 1
            per_scene = r["n_frames"] // r["n_scenes_true"]
            assert r["n_frames"] == r["n_scenes_true"] * per_scene

    def test_container_roundtrip(self):
        from databricks_sales_etl_pipeline_spark.extensions.multimodal import (
            ahash_bands,
            make_scene_video,
            video_frames,
        )

        payload = make_scene_video(7)  # 3 scenes x 3 frames
        hashes = [ahash_bands(frame) for frame in video_frames(payload)]
        assert len(hashes) == 9
        # frames within a scene hash identically, across scenes differently
        assert hashes[0] == hashes[1] == hashes[2]
        assert hashes[0] != hashes[3]


class TestGapSensitivity:
    def test_monotone_in_gap(self, spark):
        out = sorted(
            QUERIES["ext_session_gap_sensitivity"](spark, SF_DIR).collect(),
            key=lambda r: r["gap_seconds"],
        )
        assert [r["gap_seconds"] for r in out] == [600, 1800, 7200]
        sessions = [r["n_sessions"] for r in out]
        assert sessions == sorted(sessions, reverse=True), "bigger gap, fewer sessions"
        for r in out:
            assert r["n_sessions"] == r["n_users"] + r["n_boundaries"]
            assert r["n_users"] <= r["n_sessions"] <= r["n_events"]

    def test_agrees_with_materialized_sessionization(self, spark):
        """The 30-minute row must equal the session count the full
        sessionizer produces (same strict > cut)."""
        out = {r["gap_seconds"]: r for r in QUERIES["ext_session_gap_sensitivity"](spark, SF_DIR).collect()}
        stats = QUERIES["ext_session_stats"](spark, SF_DIR).collect()
        n_sessions = sum(r["n_sessions"] for r in stats)
        assert out[1800]["n_sessions"] == n_sessions
