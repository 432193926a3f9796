"""Round-6 ninety-seventh wave: empirical copula, Elo ratings."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.drift import COPULA_Q
from databricks_sales_etl_pipeline_spark.extensions.retail import (
    ELO_K,
    ELO_START,
    _elo_e_py,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestEmpiricalCopula:
    def test_margins_uniform(self, spark):
        rows = QUERIES["ext_empirical_copula"](spark, SF_DIR).collect()
        n_total = rows[0]["n_total"]
        by_v = defaultdict(int)
        by_n = defaultdict(int)
        for r in rows:
            by_v[r["qu_value"]] += r["n_orders"]
            by_n[r["qu_lines"]] += r["n_orders"]
        # ntile margins: every quintile holds n/5 (+-1)
        for m in (by_v, by_n):
            assert len(m) == COPULA_Q
            for v in m.values():
                assert abs(v - n_total // COPULA_Q) <= 1
        assert sum(r["n_orders"] for r in rows) == n_total

    def test_fixture_is_near_independent(self, spark):
        # this synthetic fixture draws order value independently of line
        # count, so the copula must read near-uniform (densities around
        # 1000) — the honest null reading; a heavy diagonal would be a
        # bug in the rank plumbing
        rows = QUERIES["ext_empirical_copula"](spark, SF_DIR).collect()
        assert len(rows) == COPULA_Q * COPULA_Q
        for r in rows:
            assert 400 <= r["density_milli"] <= 2500


class TestEloRatings:
    def test_matches_python_replay(self, spark):
        drev = duckdb.sql(
            f"""SELECT CAST(datediff('day', DATE '1970-01-01',
                                     CAST(l.l_shipdate AS DATE)) AS BIGINT),
                       p.p_brand,
                       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT)
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/part.parquet' p
                  ON p.p_partkey = l.l_partkey
                GROUP BY 1, 2"""
        ).fetchall()
        per_day = defaultdict(list)
        for d, b, rev in drev:
            per_day[int(d)].append((-int(rev), b))
        rating = defaultdict(lambda: ELO_START)
        wins = defaultdict(int)
        losses = defaultdict(int)
        for d in sorted(per_day):
            lst = sorted(per_day[d])
            if len(lst) < 2:
                continue
            wb, lb = lst[0][1], lst[1][1]
            delta = (
                ELO_K * (10**6 - _elo_e_py(rating[wb] - rating[lb]))
            ) // 10**6
            rating[wb] += delta
            rating[lb] -= delta
            wins[wb] += 1
            losses[lb] += 1
        got = {
            r["brand"]: (r["rating"], r["n_wins"], r["n_losses"])
            for r in QUERIES["ext_elo_ratings"](spark, SF_DIR).collect()
        }
        for b, t in got.items():
            assert t == (rating[b], wins[b], losses[b])

    def test_zero_sum_and_spread(self, spark):
        rows = QUERIES["ext_elo_ratings"](spark, SF_DIR).collect()
        assert sum(r["rating"] - ELO_START for r in rows) == 0
        assert max(r["rating"] for r in rows) > min(
            r["rating"] for r in rows
        )
