"""Round-6 seventy-fourth wave: k-core peel, hash-seeded permutation test."""

from __future__ import annotations

import hashlib
import os
from collections import Counter, defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.drift import (
    PERM_B,
    PERM_MOD,
    _PERM_SALT,
)
from databricks_sales_etl_pipeline_spark.extensions.graph import (
    KCORE_K,
    KCORE_ROUNDS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _band(key: str, mod: int, salt: str) -> int:
    return int(hashlib.md5((salt + key).encode()).hexdigest()[:8], 16) % mod


class TestGraphKcore:
    def test_matches_python_peel(self, spark):
        edges = {
            (int(a), int(b))
            for a, b in duckdb.sql(
                f"""SELECT DISTINCT l1.l_partkey, l2.l_partkey
                    FROM '{SF_DIR}/lineitem.parquet' l1
                    JOIN '{SF_DIR}/lineitem.parquet' l2
                      ON l2.l_orderkey = l1.l_orderkey
                     AND l1.l_partkey < l2.l_partkey"""
            ).fetchall()
        }
        expect = {}
        cur = edges
        for r in range(KCORE_ROUNDS + 1):
            deg = Counter()
            for a, b in cur:
                deg[a] += 1
                deg[b] += 1
            expect[r] = (len(deg), len(cur))
            keep = {v for v, d in deg.items() if d >= KCORE_K}
            cur = {(a, b) for a, b in cur if a in keep and b in keep}
        rows = QUERIES["ext_graph_kcore"](spark, SF_DIR).collect()
        got = {r["round"]: (r["n_vertices"], r["n_edges"]) for r in rows}
        assert got == expect

    def test_trajectory_monotone(self, spark):
        rows = sorted(
            QUERIES["ext_graph_kcore"](spark, SF_DIR).collect(),
            key=lambda r: r["round"],
        )
        for prev, nxt in zip(rows, rows[1:]):
            assert nxt["n_vertices"] <= prev["n_vertices"]
            assert nxt["n_edges"] <= prev["n_edges"]


class TestPermutationTest:
    def test_matches_python_randomization(self, spark):
        rows = duckdb.sql(
            f"""SELECT o.o_custkey,
                       CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT),
                       MAX(c.c_mktsegment)
                FROM '{SF_DIR}/orders.parquet' o
                JOIN '{SF_DIR}/customer.parquet' c
                  ON c.c_custkey = o.o_custkey
                GROUP BY o.o_custkey"""
        ).fetchall()
        units = [(int(ck), int(v), seg == "BUILDING") for ck, v, seg in rows]

        def diff(sa, na, sb, nb):
            return sa * 1000 // max(na, 1) - sb * 1000 // max(nb, 1)

        sa = sum(v for _, v, g in units if g)
        na = sum(1 for *_, g in units if g)
        sb = sum(v for _, v, g in units if not g)
        nb = len(units) - na
        d_obs = diff(sa, na, sb, nb)
        n_extreme = 0
        max_abs = 0
        for b in range(PERM_B):
            psa = pna = psb = pnb = 0
            for ck, v, _ in units:
                if _band(f"{b}:{ck}", PERM_MOD, _PERM_SALT) == 0:
                    psa += v
                    pna += 1
                else:
                    psb += v
                    pnb += 1
            d_b = diff(psa, pna, psb, pnb)
            max_abs = max(max_abs, abs(d_b))
            if abs(d_b) >= abs(d_obs):
                n_extreme += 1
        r = QUERIES["ext_permutation_test"](spark, SF_DIR).collect()[0]
        assert (r["n_units"], r["n_a"], r["n_b"]) == (len(units), na, nb)
        assert r["diff_obs_milli"] == d_obs
        assert r["n_perms"] == PERM_B
        assert r["n_extreme"] == n_extreme
        assert r["p_milli"] == (n_extreme + 1) * 1000 // (PERM_B + 1)
        assert r["max_abs_null_milli"] == max_abs

    def test_null_is_calibrated(self, spark):
        # the null relabelings mimic the ~1/5 observed split, so the
        # null diffs must straddle zero (not all one sign)
        r = QUERIES["ext_permutation_test"](spark, SF_DIR).collect()[0]
        assert 0 < r["n_a"] < r["n_units"]
        assert r["max_abs_null_milli"] > 0
