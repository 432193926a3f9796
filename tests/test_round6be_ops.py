"""Round-6 sixtieth wave: min-variance portfolio, NN matching."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestMinVariancePortfolio:
    def test_matches_python_markowitz(self, spark):
        rows = duckdb.sql(
            f"""SELECT p.p_brand, CAST(l.l_shipdate AS DATE),
                       SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5)
                           AS BIGINT))
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/part.parquet' p ON p.p_partkey = l.l_partkey
                GROUP BY 1, 2"""
        ).fetchall()
        brand_rev = defaultdict(int)
        for b, _, r in rows:
            brand_rev[b] += r
        top2 = sorted(brand_rev.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
        (ba, _), (bb, _) = top2
        daily = defaultdict(lambda: [0, 0])
        for b, d, r in rows:
            if b == ba:
                daily[d][0] += r
            elif b == bb:
                daily[d][1] += r
        pts = list(daily.values())
        n = len(pts)
        sa = sum(a for a, _ in pts)
        sb = sum(b for _, b in pts)
        saa = sum(a * a for a, _ in pts)
        sbb = sum(b * b for _, b in pts)
        sab = sum(a * b for a, b in pts)
        caa = n * saa - sa * sa
        cbb = n * sbb - sb * sb
        cab = n * sab - sa * sb
        w = (cbb - cab) / (caa + cbb - 2 * cab)
        r = QUERIES["ext_min_variance_portfolio"](spark, SF_DIR).collect()[0]
        assert (r["n"], r["sa"], r["sb"]) == (n, sa, sb)
        assert math.isclose(r["weight_a"], w, rel_tol=1e-12)
        assert math.isclose(r["weight_b"], 1 - w, rel_tol=1e-12)
        assert r["weight_a"] + r["weight_b"] == 1.0


class TestNnMatching:
    def test_matches_python_one_nn(self, spark):
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
                       o_orderpriority IN ('1-URGENT','2-HIGH'),
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        # replicate the sorted-interleave LOCF exactly: (v, t, ok) order
        recs = sorted(
            (int(v), 1 if t else 0, int(k), 1 if k in returned else 0)
            for k, t, v in rows
        )
        prev = [None] * len(recs)
        last = None
        for i, (v, t, ok, y) in enumerate(recs):
            prev[i] = last
            if t == 0:
                last = (v, y)
        nxt = [None] * len(recs)
        first = None
        for i in range(len(recs) - 1, -1, -1):
            v, t, ok, y = recs[i]
            if t == 0:
                first = (v, y)
            nxt[i] = first if True else None
        # note: "current row" inclusion means a control at index i sees
        # itself; treated rows only read neighbors, so prev/nxt as built
        # (prev exclusive, nxt inclusive-from-self) need care: rebuild
        prev = [None] * len(recs)
        last = None
        for i, (v, t, ok, y) in enumerate(recs):
            if t == 0:
                last = (v, y)
            prev[i] = last  # inclusive of current row (frame includes it)
        n_treated = sum_y = sum_ym = sum_dist = 0
        for i, (v, t, ok, y) in enumerate(recs):
            if t != 1:
                continue
            pv = prev[i]
            nv = nxt[i]
            if pv is None:
                ym, dist = nv[1], nv[0] - v
            elif nv is None:
                ym, dist = pv[1], v - pv[0]
            elif v - pv[0] <= nv[0] - v:
                ym, dist = pv[1], v - pv[0]
            else:
                ym, dist = nv[1], nv[0] - v
            n_treated += 1
            sum_y += y
            sum_ym += ym
            sum_dist += dist
        r = QUERIES["ext_nn_matching"](spark, SF_DIR).collect()[0]
        assert r["n_treated"] == n_treated
        assert r["sum_y_treated"] == sum_y
        assert r["sum_y_matched"] == sum_ym
        assert r["mean_dist_cents"] == sum_dist // n_treated
        num = sum_y - sum_ym
        sign = 1 if num >= 0 else -1
        assert r["att_ppm"] == sign * (abs(num) * 1_000_000 // n_treated)
        # matches are tight on a dense price grid
        assert r["mean_dist_cents"] < 100_000
