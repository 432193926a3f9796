"""Round-6 forty-eighth wave: post-stratification, IV Wald, sharp RDD."""

from __future__ import annotations

import hashlib
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import (
    RDD_BANDWIDTH_CENTS,
    RDD_CUTOFF_CENTS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _band(uid):
    return int(hashlib.md5(f"ab:{uid}".encode()).hexdigest()[:8], 16) % 2


def _user_rows():
    return duckdb.sql(
        f"""SELECT user_id,
                   SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END),
                   SUM(CASE WHEN event_type='signup' THEN 1 ELSE 0 END)
            FROM '{SF_DIR}/events.parquet' GROUP BY user_id"""
    ).fetchall()


class TestPostStratification:
    def test_matches_python_reweighting(self, spark):
        cells = defaultdict(lambda: [0, 0])  # (stratum, variant) -> n, sy
        for uid, y, _ in _user_rows():
            var = "control" if _band(uid) == 0 else "treatment"
            c = cells[(uid % 5, var)]
            c[0] += 1
            c[1] += y
        pop = defaultdict(int)
        for (s, _), (n, _) in cells.items():
            pop[s] += n
        big_n = sum(pop.values())
        want = {}
        for var in ("control", "treatment"):
            n_tot = sum(n for (s, v), (n, _) in cells.items() if v == var)
            sy_tot = sum(sy for (s, v), (_, sy) in cells.items() if v == var)
            ps = (
                sum(
                    (sy * 1000 // n) * pop[s]
                    for (s, v), (n, sy) in cells.items()
                    if v == var
                )
                // big_n
            )
            want[var] = (n_tot, sy_tot * 1000 // n_tot, ps)
        out = {
            r["variant"]: r
            for r in QUERIES["ext_post_stratification"](
                spark, SF_DIR
            ).collect()
        }
        assert set(out) == set(want)
        for var, (n, naive, ps) in want.items():
            r = out[var]
            assert (r["n_users"], r["naive_milli"], r["poststrat_milli"]) == (
                n,
                naive,
                ps,
            )


class TestIvWald:
    def test_matches_python_late(self, spark):
        n1 = sy1 = sd1 = n0 = sy0 = sd0 = 0
        for uid, y, s in _user_rows():
            took = 1 if s > 0 else 0
            if _band(uid) == 0:
                n0 += 1
                sy0 += y
                sd0 += took
            else:
                n1 += 1
                sy1 += y
                sd1 += took
        r = QUERIES["ext_iv_wald"](spark, SF_DIR).collect()[0]
        assert (r["n1"], r["sy1"], r["sd1"]) == (n1, sy1, sd1)
        assert (r["n0"], r["sy0"], r["sd0"]) == (n0, sy0, sd0)
        itt = sy1 * n0 - sy0 * n1
        upt = sd1 * n0 - sd0 * n1
        assert r["itt_num"] == itt
        assert r["uptake_num"] == upt
        if upt != 0:
            sign = (-1 if itt < 0 else 1) * (-1 if upt < 0 else 1)
            assert r["wald_milli"] == sign * (abs(itt) * 1000 // abs(upt))
        else:
            assert r["wald_milli"] is None


class TestRegDiscontinuity:
    def test_matches_python_local_means(self, spark):
        returned = {
            k
            for (k,) in duckdb.sql(
                f"""SELECT DISTINCT l_orderkey
                    FROM '{SF_DIR}/lineitem.parquet'
                    WHERE l_returnflag = 'R'"""
            ).fetchall()
        }
        rows = duckdb.sql(
            f"""SELECT o_orderkey,
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        na = pa = nb = pb = 0
        lo = RDD_CUTOFF_CENTS - RDD_BANDWIDTH_CENTS
        hi = RDD_CUTOFF_CENTS + RDD_BANDWIDTH_CENTS
        for k, v in rows:
            if not (lo <= v < hi):
                continue
            y = 1 if k in returned else 0
            if v >= RDD_CUTOFF_CENTS:
                na += 1
                pa += y
            else:
                nb += 1
                pb += y
        r = QUERIES["ext_reg_discontinuity"](spark, SF_DIR).collect()[0]
        assert (r["n_above"], r["pos_above"], r["n_below"], r["pos_below"]) \
            == (na, pa, nb, pb)
        assert r["rate_above_ppm"] == pa * 1_000_000 // na
        assert r["rate_below_ppm"] == pb * 1_000_000 // nb
        assert r["jump_ppm"] == (
            pa * 1_000_000 // na - pb * 1_000_000 // nb
        )
        # placebo check: no real threshold in the fixture → small jump
        # (bound: 4 pooled standard errors of a ~25% rate)
        import math

        p = (pa + pb) / (na + nb)
        se = math.sqrt(p * (1 - p) * (1 / na + 1 / nb))
        assert abs(r["jump_ppm"]) <= 4 * se * 1_000_000 + 1
