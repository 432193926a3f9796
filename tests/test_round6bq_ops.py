"""Round-6 seventy-second wave: Neyman allocation, effective sample size."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.sampling import (
    NEYMAN_BUDGET,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestNeymanAllocation:
    def test_matches_python_largest_remainder(self, spark):
        rows = duckdb.sql(
            f"""SELECT c.c_mktsegment,
                       CAST(FLOOR(o.o_totalprice + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet' o
                JOIN '{SF_DIR}/customer.parquet' c
                  ON c.c_custkey = o.o_custkey"""
        ).fetchall()
        strata = defaultdict(list)
        for seg, v in rows:
            strata[seg].append(int(v))
        ns = {}
        for seg, vs in strata.items():
            n = len(vs)
            s = sum(vs)
            ss = sum(v * v for v in vs)
            sd = math.sqrt((ss - s * s / n) / (n - 1))
            ns[seg] = n * sd
        total = sum(ns.values())
        base = {}
        rem = {}
        for seg, v in ns.items():
            share = v * NEYMAN_BUDGET / total
            base[seg] = int(math.floor(share))
            rem[seg] = share - math.floor(share)
        pennies = NEYMAN_BUDGET - sum(base.values())
        order = sorted(rem, key=lambda s: (-rem[s], s))
        alloc = dict(base)
        for seg in order[:pennies]:
            alloc[seg] += 1
        out = {
            r["stratum"]: r
            for r in QUERIES["ext_neyman_allocation"](spark, SF_DIR).collect()
        }
        assert set(out) == set(strata)
        for seg in strata:
            assert out[seg]["n_h"] == len(strata[seg])
            assert out[seg]["alloc"] == alloc[seg]
        assert sum(r["alloc"] for r in out.values()) == NEYMAN_BUDGET


class TestEffectiveSampleSize:
    def test_matches_python_kish(self, spark):
        rows = duckdb.sql(
            f"""SELECT user_id, COUNT(*)
                FROM '{SF_DIR}/events.parquet' GROUP BY user_id"""
        ).fetchall()
        ws = [int(w) for _, w in rows]
        n = len(ws)
        sw = sum(ws)
        sw2 = sum(w * w for w in ws)
        r = QUERIES["ext_effective_sample_size"](spark, SF_DIR).collect()[0]
        assert (r["n"], r["sum_w"], r["sum_w2"]) == (n, sw, sw2)
        assert r["n_eff"] == sw * sw // sw2
        assert r["n_eff_share_milli"] == sw * sw * 1000 // (n * sw2)
        # Kish bound: 1 <= n_eff <= n
        assert 1 <= r["n_eff"] <= n
