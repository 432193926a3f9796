"""Round-6 hundred-third wave: Kruskal-Wallis rank ANOVA."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _sq_over(s, n):
    return (s // n) * s + ((s % n) * s) // n


class TestKruskalWallis:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT o_orderpriority,
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        vals = sorted((int(v), g) for g, v in rows)
        n = len(vals)
        # doubled midranks: d = 2*(rank_of_first_equal - 1) + ties + 1
        from collections import Counter

        cnt = Counter(v for v, _ in vals)
        first_rank = {}
        r = 1
        for v, _ in vals:
            if v not in first_rank:
                first_rank[v] = r
            r += 1
        dsum = defaultdict(int)
        ng = defaultdict(int)
        for v, g in vals:
            dsum[g] += 2 * (first_rank[v] - 1) + cnt[v] + 1
            ng[g] += 1
        a4 = sum(_sq_over(dsum[g], ng[g]) for g in dsum)
        d = n * (n + 1)
        h_milli = (
            (3 * a4) // d * 1000
            + ((3 * a4) % d) * 1000 // d
            - 3 * (n + 1) * 1000
        )
        got = {
            rr["grp"]: rr
            for rr in QUERIES["ext_kruskal_wallis"](spark, SF_DIR).collect()
        }
        assert len(got) == len(dsum)
        for g in dsum:
            rr = got[g]
            assert (rr["n_g"], rr["rank_sum"], rr["n"]) == (
                ng[g], dsum[g] // 2, n
            )
            assert rr["h_milli"] == h_milli

    def test_null_fixture_h_near_df(self, spark):
        # priorities are independent of value: H ~ chi2(4), so h_milli
        # lands well under the 0.001 tail (~18.5)
        r = QUERIES["ext_kruskal_wallis"](spark, SF_DIR).collect()[0]
        assert 0 <= r["h_milli"] < 18_500
