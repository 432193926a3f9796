"""Round-6 hundred-twelfth wave: DiD placebo-in-time test."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import (
    DID_PLACEBOS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestDidPlacebo:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT CASE WHEN c.c_mktsegment = 'BUILDING'
                            THEN 1 ELSE 0 END,
                       CAST(year(o.o_orderdate) * 12
                            + (month(o.o_orderdate) - 1) AS BIGINT),
                       CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet' o
                JOIN '{SF_DIR}/customer.parquet' c
                  ON c.c_custkey = o.o_custkey"""
        ).fetchall()
        data = [(int(t), int(m), int(v)) for t, m, v in rows]
        lo = min(m for _, m, _ in data)
        hi = max(m for _, m, _ in data)
        cuts = [
            (lo + 3 + j * (hi - lo - 6) // DID_PLACEBOS,
             j == DID_PLACEBOS // 2)
            for j in range(DID_PLACEBOS + 1)
        ]
        expect = {}
        for cut, is_true in cuts:
            cell = defaultdict(lambda: [0, 0])
            for t, m, v in data:
                k = (t, m > cut)
                cell[k][0] += v
                cell[k][1] += 1
            mm = {k: s * 1000 // n for k, (s, n) in cell.items()}
            did = (
                mm[(1, True)] - mm[(1, False)]
                - mm[(0, True)] + mm[(0, False)]
            )
            expect[cut] = (is_true, did)
        ranked = sorted(
            ((-abs(d), c) for c, (_, d) in expect.items())
        )
        rank = {c: i for i, (_, c) in enumerate(ranked, 1)}
        got = {
            r["cut"]: (r["is_true"], r["did_milli"], r["abs_rank"])
            for r in QUERIES["ext_did_placebo"](spark, SF_DIR).collect()
        }
        assert got == {
            c: (t, d, rank[c]) for c, (t, d) in expect.items()
        }

    def test_exactly_one_true_cutoff(self, spark):
        rows = QUERIES["ext_did_placebo"](spark, SF_DIR).collect()
        assert len(rows) == DID_PLACEBOS + 1
        assert sum(1 for r in rows if r["is_true"]) == 1
        assert sorted(r["abs_rank"] for r in rows) == list(
            range(1, DID_PLACEBOS + 2)
        )
