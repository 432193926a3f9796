"""Round-6 twenty-seventh wave: NZV feature screen, mojibake repair."""

from __future__ import annotations

import hashlib
import os

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.curation import _MOJI_PAIRS
from databricks_sales_etl_pipeline_spark.extensions.features import (
    NZV_FREQ_RATIO_PCT,
    NZV_UNIQUE_PPM,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestNzvFilter:
    def test_matches_python_screen(self, spark):
        import duckdb
        from collections import Counter

        feats = {
            "priority": duckdb.sql(
                f"SELECT o_orderpriority FROM '{SF_DIR}/orders.parquet'"
            ).fetchall(),
            "status": duckdb.sql(
                f"SELECT o_orderstatus FROM '{SF_DIR}/orders.parquet'"
            ).fetchall(),
            "qty": duckdb.sql(
                f"SELECT CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) FROM '{SF_DIR}/lineitem.parquet'"
            ).fetchall(),
            "returnflag": duckdb.sql(
                f"SELECT l_returnflag FROM '{SF_DIR}/lineitem.parquet'"
            ).fetchall(),
        }
        out = {r["feature"]: r for r in QUERIES["ext_nzv_filter"](spark, SF_DIR).collect()}
        assert set(out) == set(feats)
        for fname, rows in feats.items():
            c = Counter(v for (v,) in rows)
            n = sum(c.values())
            top = max(c.values())
            r = out[fname]
            assert (r["n_rows"], r["ndv"], r["top_count"]) == (n, len(c), top)
            assert r["top_share_pct"] == top * 100 // n
            assert r["unique_ppm"] == len(c) * 1_000_000 // n
            want = (
                1
                if top * 100 >= n * NZV_FREQ_RATIO_PCT
                or len(c) * 1_000_000 < n * NZV_UNIQUE_PPM
                else 0
            )
            assert r["nzv_flag"] == want
        # a status column dominated by one value should trip the screen
        # on this fixture only if it is actually dominated — consistency
        # is what's asserted above; at minimum flags are 0/1
        assert all(out[f]["nzv_flag"] in (0, 1) for f in out)


class TestMojibakeDetect:
    def test_planted_corruption_repaired(self, spark):
        docs = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
        }
        out = {r["doc_id"]: r for r in QUERIES["ext_mojibake_detect"](spark, SF_DIR).collect()}
        expect = {i for i in docs if i % 4 in (0, 1, 2)}
        assert set(out) == expect
        suffix = {0: " caf" + _MOJI_PAIRS[0][0], 1: " cr" + _MOJI_PAIRS[1][0] + "me", 2: " " + _MOJI_PAIRS[2][0] + "ra"}
        repair = {c: f for c, f in _MOJI_PAIRS}
        for doc_id, r in out.items():
            body = docs[doc_id] + suffix[doc_id % 4]
            assert r["n_hits"] == 1  # exactly one planted signature
            fixed = body
            for c, f in repair.items():
                fixed = fixed.replace(c, f)
            assert r["len_before"] == len(body)
            assert r["len_after"] == len(fixed) == len(body) - 1
            assert r["repaired_md5"] == hashlib.md5(fixed.encode()).hexdigest()
