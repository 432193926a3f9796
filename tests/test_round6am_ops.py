"""Round-6 forty-second wave: Brier, ECE, TV distance, Wasserstein."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.drift import TV_BAND_CENTS
from databricks_sales_etl_pipeline_spark.extensions.evalmetrics import (
    CAL_LONG_DOC_TOKENS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")

_STOPS = ("the", "a", "of", "and", "to", "in", "is")


def _scored_docs():
    texts = [
        t
        for (t,) in duckdb.sql(
            f"SELECT text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    ]
    out = []
    for t in texts:
        toks = [w for w in t.lower().split() if w]
        if not toks:
            continue
        p = 1000 * len([w for w in toks if w in _STOPS]) // len(toks)
        y = 1 if len(toks) >= CAL_LONG_DOC_TOKENS else 0
        out.append((p, y))
    return out


class TestBrierScore:
    def test_matches_python_mse(self, spark):
        scored = _scored_docs()
        n = len(scored)
        sum_sq = sum((p - 1000 * y) ** 2 for p, y in scored)
        r = QUERIES["ext_brier_score"](spark, SF_DIR).collect()[0]
        assert r["n"] == n
        assert r["n_pos"] == sum(y for _, y in scored)
        assert r["sum_sq"] == sum_sq
        assert r["brier_micro"] == sum_sq // n
        # perfect forecasts give 0, the constant-0.5 forecast gives 250k
        assert 0 <= r["brier_micro"] <= 1_000_000


class TestEce:
    def test_matches_python_telescoped_sum(self, spark):
        scored = _scored_docs()
        buckets = defaultdict(lambda: [0, 0, 0])
        for p, y in scored:
            b = buckets[p // 100]
            b[0] += 1
            b[1] += y
            b[2] += p
        total_gap = sum(
            abs(1000 * pos - sp) for _, pos, sp in buckets.values()
        )
        n = len(scored)
        r = QUERIES["ext_ece"](spark, SF_DIR).collect()[0]
        assert (r["n"], r["n_buckets"]) == (n, len(buckets))
        assert r["total_gap"] == total_gap
        assert r["ece_micro"] == total_gap * 1000 // n
        # identical to the defining form sum_b n_b/n |acc_b - conf_b|
        ece_float = sum(
            (nb / n) * abs(pos / nb - sp / (1000 * nb))
            for nb, pos, sp in buckets.values()
        )
        assert abs(r["ece_micro"] / 1e6 - ece_float) < 1e-3


class TestTvDistance:
    def test_matches_python_half_l1(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
                       month(CAST(o_orderdate AS DATE)) <= 6
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        c1, c2 = defaultdict(int), defaultdict(int)
        n1 = n2 = 0
        for cents, h1 in rows:
            band = cents // TV_BAND_CENTS
            if h1:
                c1[band] += 1
                n1 += 1
            else:
                c2[band] += 1
                n2 += 1
        bands = set(c1) | set(c2)
        shares = {
            b: (
                c1.get(b, 0) * 1_000_000 // n1,
                c2.get(b, 0) * 1_000_000 // n2,
            )
            for b in bands
        }
        tv = sum(abs(p - q) for p, q in shares.values()) // 2
        out = {
            r["band"]: r
            for r in QUERIES["ext_tv_distance"](spark, SF_DIR).collect()
        }
        assert set(out) == bands
        for b in bands:
            r = out[b]
            assert (r["c1"], r["c2"]) == (c1.get(b, 0), c2.get(b, 0))
            assert (r["p_ppm"], r["q_ppm"]) == shares[b]
            assert r["abs_diff_ppm"] == abs(shares[b][0] - shares[b][1])
            assert r["tv_ppm"] == tv
        assert 0 <= tv <= 1_000_000


class TestWassersteinShift:
    def test_matches_python_cdf_integral(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(FLOOR(o_totalprice + 0.5) AS BIGINT),
                       month(CAST(o_orderdate AS DATE)) <= 6
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        c1, c2 = defaultdict(int), defaultdict(int)
        for v, h1 in rows:
            (c1 if h1 else c2)[int(v)] += 1
        n1, n2 = sum(c1.values()), sum(c2.values())
        grid = sorted(set(c1) | set(c2))
        cum1 = cum2 = 0
        d_sum = 0
        for v, nxt in zip(grid, grid[1:]):
            cum1 += c1.get(v, 0)
            cum2 += c2.get(v, 0)
            d_sum += abs(cum1 * n2 - cum2 * n1) * (nxt - v)
        r = QUERIES["ext_wasserstein_shift"](spark, SF_DIR).collect()[0]
        assert (r["n1"], r["n2"]) == (n1, n2)
        assert r["d_sum"] == d_sum
        assert r["w1_dollars"] == d_sum // (n1 * n2)
        # sanity: W1 is within the value range
        assert 0 <= r["w1_dollars"] <= grid[-1] - grid[0]
