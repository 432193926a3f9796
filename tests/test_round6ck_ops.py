"""Round-6 ninety-second wave: Haar wavelets, switchback experiment."""

from __future__ import annotations

import hashlib
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import (
    _SWB_SALT,
)
from databricks_sales_etl_pipeline_spark.extensions.drift import (
    HAAR_LEVELS,
    HAAR_N,
    HAAR_TOPC,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _band(key: str, mod: int, salt: str) -> int:
    return int(hashlib.md5((salt + key).encode()).hexdigest()[:8], 16) % mod


def _haar_python():
    daily = duckdb.sql(
        f"""SELECT CAST(datediff('day', DATE '1970-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT),
                   CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT)
            FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1 DESC
            LIMIT {HAAR_N}"""
    ).fetchall()
    vals = [int(v) for _, v in reversed(daily)]  # chronological
    a = vals[:]
    dets = []
    for k in range(1, HAAR_LEVELS + 1):
        na, nd = [], []
        for p in range(0, len(a), 2):
            na.append(a[p] + a[p + 1])
            nd.append(a[p] - a[p + 1])
        for pos, c in enumerate(nd, 1):
            dets.append((k, pos, c))
        a = na
    return vals, dets, a[0]


class TestHaarTransform:
    def test_matches_python_dwt(self, spark):
        _, dets, _ = _haar_python()
        ranked = sorted(dets, key=lambda t: (-abs(t[2]), t[0], t[1]))
        expect = [
            (k, p, c, rk)
            for rk, (k, p, c) in enumerate(ranked[:HAAR_TOPC], 1)
        ]
        got = sorted(
            (
                (r["level"], r["pos"], r["coeff_dollars"], r["rk"])
                for r in QUERIES["ext_haar_transform"](
                    spark, SF_DIR
                ).collect()
            ),
            key=lambda t: t[3],
        )
        assert got == expect

    def test_parseval_identity(self, spark):
        vals, dets, dc = _haar_python()
        # unnormalized Haar: sum x^2 == sum 2^-k d_k^2 + 2^-L dc^2
        # scale by 2^L to stay integer
        L = HAAR_LEVELS
        lhs = sum(v * v for v in vals) * (2**L)
        rhs = dc * dc + sum(
            (2 ** (L - k)) * c * c for k, _, c in dets
        )
        assert lhs == rhs


class TestSwitchback:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000,
                       CAST(floor(value * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/events.parquet'"""
        ).fetchall()
        buckets = defaultdict(lambda: [0, 0])
        for bk, v in rows:
            buckets[int(bk)][0] += 1
            buckets[int(bk)][1] += int(v)
        per_arm = defaultdict(lambda: [0, 0, 0, 0, 0, 0, 0])
        prev_arm = None
        for bk in sorted(buckets):
            n, s = buckets[bk]
            arm = _band(str(bk), 2, _SWB_SALT)
            a = per_arm[arm]
            a[0] += 1
            a[1] += n
            a[2] += s
            if prev_arm is not None and prev_arm != arm:
                a[3] += s
                a[4] += n
            elif prev_arm == arm:
                a[5] += s
                a[6] += n
            prev_arm = arm
        got = {
            r["arm"]: r
            for r in QUERIES["ext_switchback"](spark, SF_DIR).collect()
        }
        m = {
            arm: a[2] * 1000 // a[1] for arm, a in per_arm.items()
        }
        for arm, a in per_arm.items():
            r = got[arm]
            assert (r["n_buckets"], r["n_events"], r["sum_cents"]) == (
                a[0], a[1], a[2]
            )
            assert r["mean_milli"] == a[2] * 1000 // a[1]
            assert r["transition_mean_milli"] == a[3] * 1000 // max(
                a[4], 1
            )
            assert r["steady_mean_milli"] == a[5] * 1000 // max(a[6], 1)
            assert r["arm_diff_milli"] == m[1] - m[0]

    def test_design_is_balanced(self, spark):
        rows = QUERIES["ext_switchback"](spark, SF_DIR).collect()
        assert {r["arm"] for r in rows} == {0, 1}
        nb = {r["arm"]: r["n_buckets"] for r in rows}
        assert abs(nb[0] - nb[1]) * 4 <= nb[0] + nb[1]
