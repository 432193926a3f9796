"""Round-6 thirty-second wave: arc elasticity, keyset pagination."""

from __future__ import annotations

import os

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.operators.sql_frontend import PAGE_SIZE

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _sdiv(num: int, den: int, scale: int = 1000) -> int:
    return -((-num) * scale // den) if num < 0 else num * scale // den


class TestArcElasticity:
    def test_matches_python_arc_formula(self, spark):
        import duckdb
        from collections import defaultdict

        rows = duckdb.sql(
            f"""SELECT l_partkey, month(CAST(l_shipdate AS DATE)) <= 6,
                       CAST(l_quantity AS BIGINT),
                       CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/lineitem.parquet'"""
        ).fetchall()
        agg = defaultdict(lambda: [0, 0, 0, 0])  # q1, s1, q2, s2
        for pk, h1, q, s in rows:
            if h1:
                agg[pk][0] += q
                agg[pk][1] += s
            else:
                agg[pk][2] += q
                agg[pk][3] += s
        out = {r["part_id"]: r for r in QUERIES["ext_arc_elasticity"](spark, SF_DIR).collect()}
        expect = {pk for pk, (q1, _, q2, _) in agg.items() if q1 and q2}
        assert set(out) == expect
        nulls = nonnull = 0
        for pk in expect:
            q1, s1, q2, s2 = agg[pk]
            p1, p2 = s1 // q1, s2 // q2
            r = out[pk]
            assert (r["q1"], r["q2"], r["p1_cents"], r["p2_cents"]) == (
                q1,
                q2,
                p1,
                p2,
            )
            if p1 == p2:
                assert r["elasticity_milli"] is None
                nulls += 1
            else:
                num = (q2 - q1) * (p1 + p2)
                den = abs((q1 + q2) * (p2 - p1))
                want = _sdiv(num, den) * (1 if p2 > p1 else -1)
                assert r["elasticity_milli"] == want
                nonnull += 1
        assert nonnull > 0  # prices do move between halves on this fixture


class TestKeysetPagination:
    def test_page_equals_offset_form(self, spark):
        page = QUERIES["sql_keyset_pagination"](spark, SF_DIR).collect()
        assert len(page) == PAGE_SIZE
        import duckdb

        want = duckdb.sql(
            f"""SELECT o_orderkey FROM '{SF_DIR}/orders.parquet'
                ORDER BY o_orderdate, o_orderkey
                LIMIT {PAGE_SIZE} OFFSET {2 * PAGE_SIZE}"""
        ).fetchall()
        assert [r["o_orderkey"] for r in page] == [k for (k,) in want]
        # the page is internally ordered by the pagination key
        keys = [(r["o_orderdate"], r["o_orderkey"]) for r in page]
        assert keys == sorted(keys)
