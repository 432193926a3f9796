"""Round-6 seventieth wave: canonical survivor pick after dedup."""

from __future__ import annotations

import os

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")

_STOPS = ("the", "a", "of", "and", "to", "in", "is")


class TestDedupCanonical:
    def test_consistent_with_clusters_and_quality(self, spark):
        clusters = {
            r["cluster_id"]: r["n_members"]
            for r in QUERIES["ext_dup_clusters_verified"](
                spark, SF_DIR
            ).collect()
        }
        texts = dict(
            duckdb.sql(
                f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
            ).fetchall()
        )

        def quality(doc_id):
            toks = [t for t in texts[doc_id].lower().split() if t]
            return len([t for t in toks if t in _STOPS]) * 1000 // len(toks)

        out = {
            r["cluster_id"]: r
            for r in QUERIES["ext_dedup_canonical"](spark, SF_DIR).collect()
        }
        assert set(out) == set(clusters)
        for cid, r in out.items():
            assert r["n_members"] == clusters[cid]
            assert r["n_dropped"] == r["n_members"] - 1
            # the canonical doc carries the reported quality
            assert quality(r["canonical_doc_id"]) == (
                r["canonical_quality_permille"]
            )
        # the pick is NOT always the keeper (lowest id): quality decides
        keepers = set(clusters)  # cluster_id == lowest member id
        assert any(
            r["canonical_doc_id"] != cid for cid, r in out.items()
        ) or len(out) < 3
        assert out  # clusters exist at this sf

    def test_canonical_beats_cluster_minimum(self, spark):
        # every canonical's quality >= its cluster_id member's quality
        texts = dict(
            duckdb.sql(
                f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
            ).fetchall()
        )

        def quality(doc_id):
            toks = [t for t in texts[doc_id].lower().split() if t]
            return len([t for t in toks if t in _STOPS]) * 1000 // len(toks)

        for r in QUERIES["ext_dedup_canonical"](spark, SF_DIR).collect():
            assert (
                r["canonical_quality_permille"] >= quality(r["cluster_id"])
            )
