"""Round-6 ninety-first wave: two-pass exact median, KMV sketch."""

from __future__ import annotations

import hashlib
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.sketches import (
    KMV_K,
    MED2_BINS,
    _KMV_SALT,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _band(key: str, mod: int, salt: str) -> int:
    return int(hashlib.md5((salt + key).encode()).hexdigest()[:8], 16) % mod


class TestMedianTwopass:
    def test_is_the_true_median(self, spark):
        vals = sorted(
            int(v)
            for (v,) in duckdb.sql(
                f"""SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                    FROM '{SF_DIR}/orders.parquet'"""
            ).fetchall()
        )
        n = len(vals)
        k = (n + 1) // 2
        r = QUERIES["ext_median_twopass"](spark, SF_DIR).collect()
        assert len(r) == 1
        r = r[0]
        assert (r["n"], r["k"]) == (n, k)
        assert r["median_cents"] == vals[k - 1]
        lo, hi = vals[0], vals[-1]
        assert r["bin_id"] == (vals[k - 1] - lo) * MED2_BINS // (
            hi - lo + 1
        )
        assert r["before_count"] < k <= r["before_count"] + r["bin_count"]

    def test_bucket_is_small(self, spark):
        # the point of the two-pass: pass 2 touches ~n/bins rows
        r = QUERIES["ext_median_twopass"](spark, SF_DIR).collect()[0]
        assert r["bin_count"] * 20 < r["n"]


class TestKmvSketch:
    def test_matches_python_sketch(self, spark):
        rows = duckdb.sql(
            f"SELECT event_type, user_id FROM '{SF_DIR}/events.parquet'"
        ).fetchall()
        streams = defaultdict(set)
        for et, uid in rows:
            streams[et].add(int(uid))
            if et in ("click", "purchase"):
                streams["click+purchase"].add(int(uid))
        expect = {}
        for s, users in streams.items():
            hs = sorted(
                {_band(f"u:{u}", 2**32, _KMV_SALT) for u in users}
            )
            if len(hs) < KMV_K:
                continue
            hk = hs[KMV_K - 1]
            est = (KMV_K - 1) * 2**32 // hk
            expect[s] = (
                len(users), hk, est,
                abs(est - len(users)) * 10**6 // len(users),
            )
        got = {
            r["stream"]: (
                r["n_exact"], r["kth_min_hash"], r["est_distinct"],
                r["err_ppm"],
            )
            for r in QUERIES["ext_kmv_sketch"](spark, SF_DIR).collect()
        }
        assert got == expect

    def test_estimates_are_close(self, spark):
        # KMV with K=64: relative error ~ 1/sqrt(K) ~ 12.5%; allow 3x
        for r in QUERIES["ext_kmv_sketch"](spark, SF_DIR).collect():
            assert r["err_ppm"] < 375_000
