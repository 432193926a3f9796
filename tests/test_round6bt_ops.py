"""Round-6 seventy-fifth wave: CIDR longest-prefix-match, Holt smoothing."""

from __future__ import annotations

import hashlib
import os

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.distsys import (
    CIDR_BASE_BITS,
    CIDR_IP_BITS,
    CIDR_PLENS,
    _CIDR_IP_SALT,
    _CIDR_NET_SALT,
)
from databricks_sales_etl_pipeline_spark.extensions.scanops import (
    HOLT_A_DEN,
    HOLT_B_DEN,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _band(key: str, mod: int, salt: str) -> int:
    return int(hashlib.md5((salt + key).encode()).hexdigest()[:8], 16) % mod


class TestCidrLpm:
    def test_matches_python_lpm(self, spark):
        nations = duckdb.sql(
            f"SELECT n_nationkey, n_name FROM "
            f"'{SF_DIR}/nation.parquet'"
        ).fetchall()
        blk = {}
        for nk, name in nations:
            v = _band(str(nk), 2**CIDR_BASE_BITS, _CIDR_NET_SALT)
            plen = 4 + 4 * (nk % 3)
            k = (plen, v >> (CIDR_BASE_BITS - plen))
            blk[k] = min(blk.get(k, name), name)
        events = duckdb.sql(
            f"SELECT event_id, user_id FROM '{SF_DIR}/events.parquet'"
        ).fetchall()
        expect = {}
        for eid, uid in events:
            ip = _band(str(eid), 2**CIDR_IP_BITS, _CIDR_IP_SALT)
            best = ("UNROUTED", 0)
            for p in CIDR_PLENS:
                lbl = blk.get((p, ip >> (CIDR_IP_BITS - p)))
                if lbl is not None and p > best[1]:
                    best = (lbl, p)
            expect.setdefault(best, [0, set()])
            expect[best][0] += 1
            expect[best][1].add(uid)
        rows = QUERIES["ext_cidr_lpm"](spark, SF_DIR).collect()
        got = {
            (r["label"], r["plen"]): (r["n_events"], r["n_users"])
            for r in rows
        }
        assert got == {
            k: (n, len(us)) for k, (n, us) in expect.items()
        }

    def test_all_plen_levels_hit(self, spark):
        # at sf0.01 every prefix length should classify some traffic
        rows = QUERIES["ext_cidr_lpm"](spark, SF_DIR).collect()
        plens = {r["plen"] for r in rows}
        assert 0 in plens and max(CIDR_PLENS) in plens
        assert sum(r["n_events"] for r in rows) == duckdb.sql(
            f"SELECT COUNT(*) FROM '{SF_DIR}/events.parquet'"
        ).fetchone()[0]


class TestHoltLinear:
    def test_matches_python_recurrence(self, spark):
        monthly = duckdb.sql(
            f"""SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                            AS BIGINT) AS m,
                       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT) AS y
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()

        def tdiv(a, d):
            return a // d if a >= 0 else -((-a) // d)

        l, b, f = monthly[0][1], 0, monthly[0][1]
        expect = []
        for t, (m, y) in enumerate(monthly, start=1):
            if t > 1:
                f = l + b
                ln = tdiv(y + (HOLT_A_DEN - 1) * (l + b), HOLT_A_DEN)
                b = tdiv((ln - l) + (HOLT_B_DEN - 1) * b, HOLT_B_DEN)
                l = ln
            expect.append((t, m, y, l, b, f, abs(y - f)))
        rows = sorted(
            QUERIES["ext_holt_linear"](spark, SF_DIR).collect(),
            key=lambda r: r["t"],
        )
        got = [
            (
                r["t"],
                r["m"],
                r["y_cents"],
                r["level_cents"],
                r["trend_cents"],
                r["forecast_cents"],
                r["abs_err_cents"],
            )
            for r in rows
        ]
        assert got == expect

    def test_level_tracks_series(self, spark):
        rows = QUERIES["ext_holt_linear"](spark, SF_DIR).collect()
        ys = [r["y_cents"] for r in rows]
        for r in rows:
            assert min(ys) - abs(r["trend_cents"]) * 12 <= r[
                "level_cents"
            ] <= max(ys) + abs(r["trend_cents"]) * 12
