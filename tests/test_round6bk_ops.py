"""Round-6 sixty-sixth wave: modularity of the brand partition."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestModularity:
    def test_matches_python_q(self, spark):
        edges = duckdb.sql(
            f"""SELECT DISTINCT l1.l_partkey, l2.l_partkey
                FROM '{SF_DIR}/lineitem.parquet' l1
                JOIN '{SF_DIR}/lineitem.parquet' l2
                  ON l2.l_orderkey = l1.l_orderkey
                 AND l1.l_partkey < l2.l_partkey"""
        ).fetchall()
        brand = dict(
            duckdb.sql(
                f"SELECT p_partkey, p_brand FROM '{SF_DIR}/part.parquet'"
            ).fetchall()
        )
        m = len(edges)
        intra = defaultdict(int)
        dsum = defaultdict(int)
        for a, b in edges:
            ca, cb = brand[a], brand[b]
            dsum[ca] += 1
            dsum[cb] += 1
            if ca == cb:
                intra[ca] += 1
        se = sum(intra.values())
        sd2 = sum(d * d for d in dsum.values())
        num = 4 * m * se - sd2
        sign = 1 if num >= 0 else -1
        q = sign * (abs(num) * 1_000_000 // (4 * m * m))
        out = {
            r["community"]: r
            for r in QUERIES["ext_modularity"](spark, SF_DIR).collect()
        }
        assert set(out) == set(dsum)
        for c in dsum:
            r = out[c]
            assert r["intra_edges"] == intra.get(c, 0)
            assert r["degree_sum"] == dsum[c]
            assert r["m"] == m
            assert r["q_ppm"] == q
        # float cross-check of the defining formula
        qf = sum(
            intra.get(c, 0) / m - (dsum[c] / (2 * m)) ** 2 for c in dsum
        )
        assert abs(q / 1e6 - qf) < 1e-3
