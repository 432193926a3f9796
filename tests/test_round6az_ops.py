"""Round-6 fifty-fifth wave: Simpson screen, growth accounting."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestSimpsonCheck:
    def test_matches_python_signs(self, spark):
        rows = duckdb.sql(
            f"""SELECT c.c_mktsegment,
                       CAST(FLOOR(o.o_totalprice + 0.5) AS BIGINT),
                       CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END
                FROM '{SF_DIR}/orders.parquet' o
                JOIN '{SF_DIR}/customer.parquet' c
                  ON c.c_custkey = o.o_custkey"""
        ).fetchall()
        strata = defaultdict(lambda: [0, 0, 0, 0])
        for seg, x, y in rows:
            s = strata[seg]
            s[0] += 1
            s[1] += x
            s[2] += y
            s[3] += x * y
        pn = sum(s[0] for s in strata.values())
        psx = sum(s[1] for s in strata.values())
        psy = sum(s[2] for s in strata.values())
        psxy = sum(s[3] for s in strata.values())

        def sign(v):
            return 1 if v > 0 else (-1 if v < 0 else 0)

        p_sign = sign(pn * psxy - psx * psy)
        out = {
            r["segment"]: r
            for r in QUERIES["ext_simpson_check"](spark, SF_DIR).collect()
        }
        assert set(out) == set(strata)
        for seg, (n, sx, sy, sxy) in strata.items():
            r = out[seg]
            s_sign = sign(n * sxy - sx * sy)
            assert r["n"] == n
            assert r["stratum_sign"] == s_sign
            assert r["pooled_sign"] == p_sign
            assert r["reversal"] == (1 if s_sign * p_sign < 0 else 0)


class TestGrowthAccounting:
    def test_matches_python_state_machine(self, spark):
        rows = duckdb.sql(
            f"""SELECT DISTINCT user_id,
                       datediff('day', DATE '1970-01-01',
                                CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7
                FROM '{SF_DIR}/events.parquet'"""
        ).fetchall()
        weeks = defaultdict(set)
        user_weeks = defaultdict(list)
        for u, w in rows:
            weeks[int(w)].add(u)
            user_weeks[u].append(int(w))
        first = {u: min(ws) for u, ws in user_weeks.items()}
        out = {
            r["w"]: r
            for r in QUERIES["ext_growth_accounting"](spark, SF_DIR).collect()
        }
        assert set(out) == set(weeks)
        for w, active in weeks.items():
            new = sum(1 for u in active if first[u] == w)
            retained = sum(1 for u in active if u in weeks.get(w - 1, ()))
            resurrected = len(active) - new - retained
            churned = len(weeks.get(w - 1, ())) - retained
            r = out[w]
            assert r["new_users"] == new
            assert r["retained"] == retained
            assert r["resurrected"] == resurrected
            assert r["active"] == len(active)
            assert r["churned_from_prev"] == churned
            # the accounting identity holds by construction
            assert (
                r["active"]
                == r["new_users"] + r["retained"] + r["resurrected"]
            )
