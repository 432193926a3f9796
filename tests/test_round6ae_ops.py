"""Round-6 thirty-fourth wave: Mann-Whitney U, McNemar, DiD, TWAP."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.evalmetrics import (
    MCNEMAR_A_CENTS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _cents(x: float) -> int:
    return int(math.floor(x * 100 + 0.5))


class TestMannWhitney:
    def test_matches_python_rank_sum(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
                       month(CAST(o_orderdate AS DATE)) <= 6
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        g1 = sorted(v for v, h1 in rows if h1)
        g2 = sorted(v for v, h1 in rows if not h1)
        n1, n2 = len(g1), len(g2)
        # midranks over the pooled sample, exactly (Python ints)
        pooled = sorted(g1 + g2)
        first = {}
        for i, v in enumerate(pooled):
            first.setdefault(v, i)
        count = defaultdict(int)
        for v in pooled:
            count[v] += 1
        # 2*midrank = 2*below + tied + 1 (1-based ranks)
        two_r1 = sum(2 * first[v] + count[v] + 1 for v in g1)
        two_u1 = two_r1 - n1 * (n1 + 1)
        tie_sum = sum(t**3 - t for t in count.values())
        n = n1 + n2
        var = (n1 * n2 / 12) * ((n + 1) - tie_sum / (n * (n - 1)))
        z = (two_u1 / 2 - n1 * n2 / 2) / math.sqrt(var)

        out = QUERIES["ext_mann_whitney"](spark, SF_DIR).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["n1"], r["n2"]) == (n1, n2)
        assert r["two_r1"] == two_r1
        assert r["two_u1"] == two_u1
        assert r["two_u2"] == 2 * n1 * n2 - two_u1
        assert r["tie_sum"] == tie_sum
        assert math.isclose(r["z_value"], z, rel_tol=1e-12)
        assert r["reject_h0"] == (1 if abs(r["z_value"]) > 1.96 else 0)

    def test_u_statistics_are_consistent(self, spark):
        r = QUERIES["ext_mann_whitney"](spark, SF_DIR).collect()[0]
        # U1 + U2 == n1*n2 (in doubled units)
        assert r["two_u1"] + r["two_u2"] == 2 * r["n1"] * r["n2"]
        assert 0 <= r["two_u1"] <= 2 * r["n1"] * r["n2"]


class TestMcNemar:
    def test_matches_python_cells(self, spark):
        returned = {
            k
            for (k,) in duckdb.sql(
                f"""SELECT DISTINCT l_orderkey
                    FROM '{SF_DIR}/lineitem.parquet'
                    WHERE l_returnflag = 'R'"""
            ).fetchall()
        }
        orders = duckdb.sql(
            f"""SELECT o_orderkey, o_totalprice, o_orderpriority
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        bc = bw = ao = bo = 0
        for k, price, prio in orders:
            y = 1 if k in returned else 0
            a = 1 if _cents(price) > MCNEMAR_A_CENTS else 0
            b = 1 if prio in ("1-URGENT", "2-HIGH") else 0
            if a == y and b == y:
                bc += 1
            elif a != y and b != y:
                bw += 1
            elif a == y:
                ao += 1
            else:
                bo += 1
        r = QUERIES["ext_mcnemar_test"](spark, SF_DIR).collect()[0]
        assert (
            r["n_pairs"],
            r["both_correct"],
            r["both_wrong"],
            r["a_only"],
            r["b_only"],
        ) == (len(orders), bc, bw, ao, bo)
        if ao + bo:
            chi2 = (abs(ao - bo) - 1) ** 2 * 1000 // (ao + bo)
            assert r["chi2_milli"] == chi2
            assert r["reject_h0"] == (1 if chi2 > 3841 else 0)
        # discordant pairs exist in the fixture (the test has power)
        assert ao + bo > 0


class TestDiffInDiff:
    def test_matches_python_cell_means(self, spark):
        rows = duckdb.sql(
            f"""SELECT c.c_mktsegment = 'BUILDING',
                       month(CAST(o.o_orderdate AS DATE)) > 6,
                       CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet' o
                JOIN '{SF_DIR}/customer.parquet' c
                  ON o.o_custkey = c.c_custkey"""
        ).fetchall()
        cells = defaultdict(lambda: [0, 0])  # (treated, post) -> [n, sum]
        for tr, po, v in rows:
            c = cells[(bool(tr), bool(po))]
            c[0] += 1
            c[1] += v
        m = {k: s * 1000 // n for k, (n, s) in cells.items()}
        did = (m[(True, True)] - m[(True, False)]) - (
            m[(False, True)] - m[(False, False)]
        )
        r = QUERIES["ext_diff_in_diff"](spark, SF_DIR).collect()[0]
        assert r["n_t_pre"] == cells[(True, False)][0]
        assert r["n_t_post"] == cells[(True, True)][0]
        assert r["n_c_pre"] == cells[(False, False)][0]
        assert r["n_c_post"] == cells[(False, True)][0]
        assert r["m_t_pre"] == m[(True, False)]
        assert r["m_t_post"] == m[(True, True)]
        assert r["m_c_pre"] == m[(False, False)]
        assert r["m_c_post"] == m[(False, True)]
        assert r["did_millicents"] == did
        # all four cells populated — the 2x2 design is identified
        assert min(n for n, _ in cells.values()) > 0


class TestTwap:
    def test_matches_python_interval_weights(self, spark):
        rows = duckdb.sql(
            f"""SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)),
                       event_id,
                       CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/events.parquet'"""
        ).fetchall()
        by_type = defaultdict(list)
        for et, us, eid, v in rows:
            by_type[et].append((us, eid, v))
        want = {}
        for et, evs in by_type.items():
            evs.sort()
            n = wsum = dsum = vsum = 0
            for (us, _, v), (nus, _, _) in zip(evs, evs[1:]):
                dur = nus - us
                n += 1
                dsum += dur
                wsum += v * dur
                vsum += v
            want[et] = (n, dsum, wsum // dsum, vsum // n)
        out = {
            r["event_type"]: r
            for r in QUERIES["ext_twap"](spark, SF_DIR).collect()
        }
        assert set(out) == set(want)
        for et, (n, dsum, twap, mean) in want.items():
            r = out[et]
            assert (
                r["n_intervals"],
                r["total_dur_us"],
                r["twap_milli"],
                r["mean_milli"],
            ) == (n, dsum, twap, mean)
