"""Round-6 ninety-fourth wave: German-tank estimator, hash audit."""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.sampling import (
    GT_PCT,
    HASH_AUDIT_BITS,
    _GT_SALT,
    _HAUDIT_SALT,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _band(key: str, mod: int, salt: str) -> int:
    return int(hashlib.md5((salt + key).encode()).hexdigest()[:8], 16) % mod


class TestGermanTank:
    def test_matches_python_reference(self, spark):
        keys = [
            int(k)
            for (k,) in duckdb.sql(
                f"SELECT o_orderkey FROM '{SF_DIR}/orders.parquet'"
            ).fetchall()
        ]
        sample = [
            k for k in keys if _band(str(k), 100, _GT_SALT) < GT_PCT
        ]
        m, k = max(sample), len(sample)
        est = m + m // k - 1
        true_max = max(keys)
        r = QUERIES["ext_german_tank"](spark, SF_DIR).collect()[0]
        assert (r["n_total"], r["true_max"]) == (len(keys), true_max)
        assert (r["k"], r["sample_max"], r["estimate"]) == (k, m, est)
        assert r["err_ppm"] == abs(est - true_max) * 10**6 // true_max

    def test_estimator_is_accurate(self, spark):
        # with a ~5% sample the MVUE should land within a few percent
        r = QUERIES["ext_german_tank"](spark, SF_DIR).collect()[0]
        assert r["err_ppm"] < 100_000


class TestHashCollisionAudit:
    def test_matches_python_reference(self, spark):
        users = {
            int(u)
            for (u,) in duckdb.sql(
                f"SELECT DISTINCT user_id FROM '{SF_DIR}/events.parquet'"
            ).fetchall()
        }
        cnt = Counter(
            _band(f"h:{u}", 2**HASH_AUDIT_BITS, _HAUDIT_SALT)
            for u in users
        )
        n = len(users)
        obs = sum(c * (c - 1) // 2 for c in cnt.values())
        m = 2**HASH_AUDIT_BITS
        r = QUERIES["ext_hash_collision_audit"](spark, SF_DIR).collect()[0]
        assert (r["n"], r["n_buckets_used"], r["observed_pairs"]) == (
            n, len(cnt), obs
        )
        assert r["expected_pairs_milli"] == n * (n - 1) * 1000 // (2 * m)
        assert r["ratio_milli"] == obs * 2000 * m // (n * (n - 1))

    def test_md5_is_birthday_clean(self, spark):
        # observed/expected within a factor of 2 — md5 spreads uniformly
        r = QUERIES["ext_hash_collision_audit"](spark, SF_DIR).collect()[0]
        assert 500 <= r["ratio_milli"] <= 2000
