"""Round-6 ninety-third wave: Shamir sharing, retry backoff replay."""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.distsys import (
    RETRY_BASE_S,
    RETRY_FAIL_PPM,
    RETRY_MAX,
    SHAMIR_LAMBDAS,
    SHAMIR_P,
    SHAMIR_XS,
    _RETRY_SALT,
    _SHAMIR_SALT,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _band(key: str, mod: int, salt: str) -> int:
    return int(hashlib.md5((salt + key).encode()).hexdigest()[:8], 16) % mod


class TestShamirShares:
    def test_reconstruction_and_polynomial(self, spark):
        total = duckdb.sql(
            f"""SELECT CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                      AS BIGINT)) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchone()[0]
        s = int(total) % SHAMIR_P
        a1 = _band("coef:1", SHAMIR_P, _SHAMIR_SALT)
        a2 = _band("coef:2", SHAMIR_P, _SHAMIR_SALT)
        rows = {
            r["x"]: r
            for r in QUERIES["ext_shamir_shares"](spark, SF_DIR).collect()
        }
        assert set(rows) == {1, 2, 3, 4, 5}
        for x, r in rows.items():
            assert r["share"] == (s + a1 * x + a2 * x * x) % SHAMIR_P
            assert r["secret_mod_p"] == s
            assert r["matches"] is True
        # independent Lagrange reconstruction from the emitted shares
        rec = (
            sum(
                rows[x]["share"] * lam
                for x, lam in zip(SHAMIR_XS, SHAMIR_LAMBDAS)
            )
            % SHAMIR_P
        )
        assert rec == s
        assert rows[1]["reconstructed"] == s

    def test_lambdas_reconstruct_any_quadratic(self, spark):
        f = lambda x: (12345 + 678 * x + 91011 * x * x) % SHAMIR_P
        rec = (
            sum(f(x) * lam for x, lam in zip(SHAMIR_XS, SHAMIR_LAMBDAS))
            % SHAMIR_P
        )
        assert rec == 12345


class TestRetryBackoff:
    def test_matches_python_replay(self, spark):
        keys = [
            int(k)
            for (k,) in duckdb.sql(
                f"SELECT o_orderkey FROM '{SF_DIR}/orders.parquet'"
            ).fetchall()
        ]
        dist = Counter()
        wait = Counter()
        for k in keys:
            att = RETRY_MAX
            ok = False
            for i in range(1, RETRY_MAX + 1):
                if _band(f"try:{k}:{i}", 10**6, _RETRY_SALT) >= (
                    RETRY_FAIL_PPM
                ):
                    att, ok = i, True
                    break
            dist[(att, ok)] += 1
            wait[(att, ok)] += RETRY_BASE_S * (2 ** (att - 1)) - (
                RETRY_BASE_S
            )
        got = {
            (r["attempts"], r["succeeded"]): (
                r["n_jobs"], r["total_backoff_s"]
            )
            for r in QUERIES["ext_retry_backoff"](spark, SF_DIR).collect()
        }
        assert got == {k: (dist[k], wait[k]) for k in dist}

    def test_distribution_is_geometric(self, spark):
        rows = QUERIES["ext_retry_backoff"](spark, SF_DIR).collect()
        by_att = {
            r["attempts"]: r["n_jobs"] for r in rows if r["succeeded"]
        }
        total = sum(r["n_jobs"] for r in rows)
        # first-attempt success ~70%; allow generous sampling noise
        assert abs(by_att[1] - total * 7 // 10) < total // 10
        for k in range(2, 4):
            assert by_att[k] < by_att[k - 1]
