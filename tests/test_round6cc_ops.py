"""Round-6 eighty-fourth wave: binary segmentation, quantile normalize."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.drift import BSEG_MINLEN

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _sq_over(s, n):
    return (s // n) * s + ((s % n) * s) // n


class TestBinarySegmentation:
    def test_matches_python_sweep(self, spark):
        daily = duckdb.sql(
            f"""SELECT CAST(datediff('day', DATE '1970-01-01',
                                     CAST(o_orderdate AS DATE)) AS BIGINT),
                       CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT))
                            AS BIGINT)
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        pts = [(int(d), int(v)) for d, v in daily]
        n = len(pts)
        s = sum(v for _, v in pts)
        base = _sq_over(s, n)
        best = None
        sl = 0
        for i, (d, v) in enumerate(pts, 1):
            sl += v
            if i < BSEG_MINLEN or i > n - BSEG_MINLEN:
                continue
            gain = _sq_over(sl, i) + _sq_over(s - sl, n - i) - base
            key = (-gain, i)
            if best is None or key < best[0]:
                best = (key, (i, d, gain, sl))
        i, d, gain, sl = best[1]
        r = QUERIES["ext_binary_segmentation"](spark, SF_DIR).collect()
        assert len(r) == 1
        r = r[0]
        assert (r["n_days"], r["split_rank"], r["split_day"]) == (n, i, d)
        assert r["gain_sq_dollars"] == gain
        assert r["left_mean_dollars"] == sl // i
        assert r["right_mean_dollars"] == (s - sl) // (n - i)

    def test_split_respects_min_segment(self, spark):
        r = QUERIES["ext_binary_segmentation"](spark, SF_DIR).collect()[0]
        assert BSEG_MINLEN <= r["split_rank"] <= r["n_days"] - BSEG_MINLEN
        assert r["gain_sq_dollars"] >= 0


class TestQuantileNormalize:
    def test_matches_python_mapping(self, spark):
        docs = duckdb.sql(
            f"""SELECT doc_id, source, n_chars
                FROM '{SF_DIR}/documents.parquet'"""
        ).fetchall()
        docs = [(int(i), s, int(c)) for i, s, c in docs]
        pooled = sorted((c, i) for i, _, c in docs)
        big_n = len(pooled)
        per = defaultdict(list)
        for i, s, c in docs:
            per[s].append((c, i))
        expect = {}
        for s, xs in per.items():
            xs.sort()
            n_s = len(xs)
            for r, (c, i) in enumerate(xs, 1):
                k = (r * big_n + n_s - 1) // n_s
                expect[i] = (s, c, r, pooled[k - 1][0])
        got = {
            r["doc_id"]: (
                r["source"], r["n_chars"], r["rank_in_source"],
                r["norm_chars"],
            )
            for r in QUERIES["ext_quantile_normalize"](
                spark, SF_DIR
            ).collect()
        }
        assert got == expect

    def test_distributions_equalized(self, spark):
        # after QN the per-source MAX must be the pooled max everywhere
        rows = QUERIES["ext_quantile_normalize"](spark, SF_DIR).collect()
        pooled_max = max(r["norm_chars"] for r in rows)
        per_max = defaultdict(int)
        for r in rows:
            per_max[r["source"]] = max(per_max[r["source"]], r["norm_chars"])
        assert all(v == pooled_max for v in per_max.values())
