"""Round-6 forty-fourth wave: segment migration, ABC-XYZ, CVaR."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import (
    MIGRATION_BAND_CENTS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestSegmentMigration:
    def test_matches_python_matrix(self, spark):
        rows = duckdb.sql(
            f"""SELECT o_custkey, month(CAST(o_orderdate AS DATE)) <= 6,
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        spend = defaultdict(lambda: [0, 0])
        for ck, h1, rc in rows:
            spend[ck][0 if h1 else 1] += rc
        mat = defaultdict(int)
        for rev_h1, rev_h2 in spend.values():
            f = min(rev_h1 // MIGRATION_BAND_CENTS, 3)
            t = min(rev_h2 // MIGRATION_BAND_CENTS, 3)
            mat[(f, t)] += 1
        row_tot = defaultdict(int)
        for (f, _), n in mat.items():
            row_tot[f] += n
        out = {
            (r["from_band"], r["to_band"]): r
            for r in QUERIES["ext_segment_migration"](
                spark, SF_DIR
            ).collect()
        }
        assert set(out) == set(mat)
        for key, n in mat.items():
            r = out[key]
            assert r["n_customers"] == n
            assert r["row_share_ppm"] == n * 1_000_000 // row_tot[key[0]]
        assert sum(r["n_customers"] for r in out.values()) == len(spend)


class TestInventoryXyz:
    def test_matches_python_grid(self, spark):
        lines = duckdb.sql(
            f"""SELECT l_partkey, CAST(l_shipdate AS DATE),
                       CAST(l_quantity AS BIGINT),
                       CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/lineitem.parquet'"""
        ).fetchall()
        daily = defaultdict(int)
        rev = defaultdict(int)
        for pk, d, q, rc in lines:
            daily[(pk, d)] += q
            rev[pk] += rc
        moments = defaultdict(lambda: [0, 0, 0])
        for (pk, _), q in daily.items():
            m = moments[pk]
            m[0] += 1
            m[1] += q
            m[2] += q * q
        tot = sum(rev.values())
        ranked = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
        cum = 0
        abc = {}
        for pk, r in ranked:
            cum += r
            if cum * 10 <= tot * 8:
                abc[pk] = "A"
            elif cum * 100 <= tot * 95:
                abc[pk] = "B"
            else:
                abc[pk] = "C"
        grid = defaultdict(int)
        for pk, (n, sq, sqq) in moments.items():
            disp = n * sqq - sq * sq
            if 4 * disp < sq * sq:
                xyz = "X"
            elif disp < sq * sq:
                xyz = "Y"
            else:
                xyz = "Z"
            grid[(abc[pk], xyz)] += 1
        out = {
            (r["abc_class"], r["xyz_class"]): r["n_parts"]
            for r in QUERIES["ext_inventory_xyz"](spark, SF_DIR).collect()
        }
        assert out == dict(grid)
        assert sum(out.values()) == len(moments)


class TestCvarTail:
    def test_matches_python_tail_mean(self, spark):
        rows = duckdb.sql(
            f"""SELECT o_orderpriority,
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        by_prio = defaultdict(list)
        for prio, v in rows:
            by_prio[prio].append(int(v))
        out = {
            r["prio"]: r
            for r in QUERIES["ext_cvar_tail"](spark, SF_DIR).collect()
        }
        assert set(out) == set(by_prio)
        for prio, vs in by_prio.items():
            vs.sort()
            n = len(vs)
            pos = 0.95 * (n - 1)
            lo = int(pos)
            frac = pos - lo
            var95 = vs[lo] if lo + 1 >= n else vs[lo] + frac * (
                vs[lo + 1] - vs[lo]
            )
            tail = [v for v in vs if v > var95]
            r = out[prio]
            assert r["n"] == n
            assert abs(r["var95"] - var95) < 1e-6
            assert r["n_tail"] == len(tail)
            assert r["tail_sum_cents"] == sum(tail)
            assert r["cvar_cents"] == sum(tail) // len(tail)
            # CVaR dominates VaR (coherence direction)
            assert r["cvar_cents"] > r["var95"]
