"""Round-6 forty-sixth wave: dynamic overwrite, _metadata, dedup agreement."""

from __future__ import annotations

import os

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.dedup import AGREE_HAMMING

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestDynamicOverwrite:
    def test_only_region_zero_patched(self, spark):
        out = QUERIES["sink_dynamic_overwrite"](spark, SF_DIR).collect()
        n = duckdb.sql(
            f"SELECT COUNT(*) FROM '{SF_DIR}/nation.parquet'"
        ).fetchone()[0]
        assert len(out) == n  # no partition lost, none duplicated
        for r in out:
            want = "patched" if r["n_regionkey"] == 0 else "base"
            assert r["src"] == want

    def test_conf_restored_after_query(self, spark):
        QUERIES["sink_dynamic_overwrite"](spark, SF_DIR).collect()
        assert (
            spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "STATIC"
            ).upper()
            == "STATIC"
        )


class TestFileMetadata:
    def test_one_file_per_region_and_counts(self, spark):
        rows = duckdb.sql(
            f"""SELECT n_regionkey, COUNT(*)
                FROM '{SF_DIR}/nation.parquet' GROUP BY 1"""
        ).fetchall()
        want = {int(k): int(v) for k, v in rows}
        out = {
            r["region"]: r
            for r in QUERIES["src_file_metadata"](spark, SF_DIR).collect()
        }
        assert set(out) == set(want)
        for region, n in want.items():
            assert out[region]["n_rows"] == n
            assert out[region]["n_files"] == 1


class TestDedupAgreement:
    def test_agreement_is_consistent_with_components(self, spark):
        pairs = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in QUERIES["ext_dedup_minhash_verified"](
                spark, SF_DIR
            ).collect()
        }
        sketches = {
            r["doc_id"]: r["simhash32"]
            for r in QUERIES["ext_dedup_simhash_verified"](
                spark, SF_DIR
            ).collect()
        }
        out = QUERIES["ext_dedup_agreement"](spark, SF_DIR).collect()
        assert {(r["doc_a"], r["doc_b"]) for r in out} == set(pairs)
        n_agree = 0
        for r in out:
            ham = bin(
                sketches[r["doc_a"]] ^ sketches[r["doc_b"]]
            ).count("1")
            assert r["hamming"] == ham
            assert r["agree"] == (1 if ham <= AGREE_HAMMING else 0)
            assert r["jaccard"] == pairs[(r["doc_a"], r["doc_b"])]
            n_agree += r["agree"]
        if out:
            share = n_agree * 1_000_000 // len(out)
            assert all(r["agree_share_ppm"] == share for r in out)
        # verified dups exist at this sf, so the audit is non-vacuous
        assert out
