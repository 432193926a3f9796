"""Round-6 hundred-ninth wave: Luhn checksum audit."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.curation import (
    _LUHN_WIDTH,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _luhn_ok(s: str) -> bool:
    total = 0
    for i, ch in enumerate(reversed(s), 1):
        d = int(ch)
        if i % 2 == 0:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


class TestLuhnCheck:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT o_orderpriority, o_orderkey
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        agg = defaultdict(lambda: [0, 0])
        for g, k in rows:
            s = str(int(k)).zfill(_LUHN_WIDTH)
            agg[g][0] += 1
            agg[g][1] += 1 if _luhn_ok(s) else 0
        got = {
            r["grp"]: (r["n_ids"], r["n_luhn_valid"], r["valid_ppm"])
            for r in QUERIES["ext_luhn_check"](spark, SF_DIR).collect()
        }
        assert got == {
            g: (n, v, v * 10**6 // n) for g, (n, v) in agg.items()
        }

    def test_random_ids_pass_at_ten_percent(self, spark):
        rows = QUERIES["ext_luhn_check"](spark, SF_DIR).collect()
        total = sum(r["n_ids"] for r in rows)
        valid = sum(r["n_luhn_valid"] for r in rows)
        # non-Luhn-generated keys: ~1 in 10 pass by chance
        assert abs(valid * 10 - total) < total  # within (0%, 20%)
        assert 0 < valid < total
