"""Round-6 twentieth wave: SQL pipe syntax, a-priori triples, bootstrap CI."""

from __future__ import annotations

import hashlib
import os

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.evalmetrics import BOOT_REPS
from databricks_sales_etl_pipeline_spark.extensions.retail import (
    TRIPLE_PAIR_MINSUP_PPM,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestSqlPipeSyntax:
    def test_pipe_equals_classic(self, spark):
        out = QUERIES["sql_pipe_syntax"](spark, SF_DIR)
        rows = out.collect()
        assert out.columns == ["l_returnflag", "n_lines", "rev_cents"]
        assert [r["l_returnflag"] for r in rows] == sorted(
            r["l_returnflag"] for r in rows
        )
        classic = spark.sql(
            f"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_lines
                FROM parquet.`{SF_DIR}/lineitem.parquet`
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                GROUP BY l_returnflag"""
        ).collect()
        want = {r["l_returnflag"]: r["n_lines"] for r in classic}
        assert {r["l_returnflag"]: r["n_lines"] for r in rows} == want


class TestBasketTriples:
    def test_downward_closure_prune(self, spark):
        import duckdb

        baskets = duckdb.sql(
            f"""SELECT DISTINCT l.l_orderkey, p.p_brand
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/part.parquet' p ON p.p_partkey = l.l_partkey"""
        ).fetchall()
        from collections import Counter, defaultdict

        orders = defaultdict(set)
        for ok, br in baskets:
            orders[ok].add(br)
        n_orders = len(orders)
        pair_cnt = Counter()
        for basket in orders.values():
            bs = sorted(basket)
            for i in range(len(bs)):
                for j in range(i + 1, len(bs)):
                    pair_cnt[(bs[i], bs[j])] += 1
        freq = {
            p
            for p, c in pair_cnt.items()
            if c * 1_000_000 >= n_orders * TRIPLE_PAIR_MINSUP_PPM
        }
        rows = QUERIES["ext_basket_triples"](spark, SF_DIR).collect()
        assert rows
        for r in rows:
            t = (r["brand_a"], r["brand_b"], r["brand_c"])
            assert t[0] < t[1] < t[2]
            # the a-priori gate: every sub-pair of a surviving triple is
            # frequent
            assert (t[0], t[1]) in freq
            assert (t[0], t[2]) in freq
            assert (t[1], t[2]) in freq
            true_cnt = sum(
                1 for basket in orders.values() if set(t) <= basket
            )
            assert r["triple_cnt"] == true_cnt
            assert r["support_ppm"] == true_cnt * 1_000_000 // n_orders


class TestBootstrapCi:
    def test_replicates_and_order_statistics(self, spark):
        r = QUERIES["ext_bootstrap_ci"](spark, SF_DIR).collect()
        assert len(r) == 1
        r = r[0]
        assert r["n_reps"] == BOOT_REPS
        assert r["rep_min"] <= r["lo_mean_cents"] <= r["hi_mean_cents"] <= r["rep_max"]
        # a half-sample mean CI should bracket the full-sample estimate
        assert r["lo_mean_cents"] <= r["est_mean_cents"] <= r["hi_mean_cents"]
        # recompute replicate 0's mean from the md5 coin
        import duckdb

        rows = duckdb.sql(
            f"""SELECT o_orderkey,
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        sel = [
            v
            for k, v in rows
            if int(hashlib.md5(f"boot:{k}:0".encode()).hexdigest()[:8], 16) % 2
            == 0
        ]
        mean0 = sum(sel) // len(sel)
        # mean0 is one of the 32 replicate means → within [rep_min, rep_max]
        assert r["rep_min"] <= mean0 <= r["rep_max"]
