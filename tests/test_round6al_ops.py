"""Round-6 forty-first wave: SLA percentiles, OTIF, repurchase cycle."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.scanops import SLA_DAYS

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _interp_quantile(sorted_vals, q):
    n = len(sorted_vals)
    pos = q * (n - 1)
    lo = int(pos)
    frac = pos - lo
    if lo + 1 >= n:
        return float(sorted_vals[lo])
    return sorted_vals[lo] + frac * (sorted_vals[lo + 1] - sorted_vals[lo])


def _lags():
    return duckdb.sql(
        f"""SELECT o.o_orderpriority,
                   date_diff('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE)),
                   o.o_orderkey
            FROM '{SF_DIR}/lineitem.parquet' l
            JOIN '{SF_DIR}/orders.parquet' o
              ON o.o_orderkey = l.l_orderkey"""
    ).fetchall()


class TestSlaLagPercentiles:
    def test_matches_python_percentiles(self, spark):
        by_prio = defaultdict(list)
        for prio, lag, _ in _lags():
            by_prio[prio].append(int(lag))
        out = {
            r["prio"]: r
            for r in QUERIES["ext_sla_lag_percentiles"](
                spark, SF_DIR
            ).collect()
        }
        assert set(out) == set(by_prio)
        for prio, lags in by_prio.items():
            lags.sort()
            r = out[prio]
            assert r["n_lines"] == len(lags)
            for col, q in (
                ("p50_days", 0.5),
                ("p90_days", 0.9),
                ("p99_days", 0.99),
            ):
                assert abs(r[col] - _interp_quantile(lags, q)) < 1e-9
            breach = sum(1 for v in lags if v > SLA_DAYS)
            assert r["breach_ppm"] == breach * 1_000_000 // len(lags)


class TestOtifRate:
    def test_matches_python_two_level(self, spark):
        worst = {}
        prio_of = {}
        for prio, lag, ok in _lags():
            worst[ok] = max(worst.get(ok, -1), int(lag))
            prio_of[ok] = prio
        cells = defaultdict(lambda: [0, 0])
        for ok, w in worst.items():
            c = cells[prio_of[ok]]
            c[0] += 1
            if w <= SLA_DAYS:
                c[1] += 1
        out = {
            r["prio"]: r
            for r in QUERIES["ext_otif_rate"](spark, SF_DIR).collect()
        }
        assert set(out) == set(cells)
        line_on_time = defaultdict(lambda: [0, 0])
        for prio, lag, _ in _lags():
            line_on_time[prio][0] += 1
            if lag <= SLA_DAYS:
                line_on_time[prio][1] += 1
        for prio, (n, ok_n) in cells.items():
            r = out[prio]
            assert (r["n_orders"], r["n_otif"]) == (n, ok_n)
            assert r["otif_ppm"] == ok_n * 1_000_000 // n
            # OTIF never exceeds the line-level on-time rate
            ln, lok = line_on_time[prio]
            assert r["otif_ppm"] <= lok * 1_000_000 // ln + 1


class TestRepurchaseCycle:
    def test_matches_python_gaps_and_overdue(self, spark):
        rows = duckdb.sql(
            f"""SELECT DISTINCT o.o_custkey, c.c_mktsegment,
                       datediff('day', DATE '1970-01-01',
                                CAST(o.o_orderdate AS DATE))
                FROM '{SF_DIR}/orders.parquet' o
                JOIN '{SF_DIR}/customer.parquet' c
                  ON c.c_custkey = o.o_custkey"""
        ).fetchall()
        cust_days = defaultdict(list)
        seg_of = {}
        for ck, seg, d in rows:
            cust_days[ck].append(int(d))
            seg_of[ck] = seg
        horizon = max(d for _, _, d in rows)
        gaps = defaultdict(list)
        last = {}
        for ck, days in cust_days.items():
            days.sort()
            for a, b in zip(days, days[1:]):
                gaps[seg_of[ck]].append(b - a)
            last[ck] = days[-1]
        out = {
            r["segment"]: r
            for r in QUERIES["ext_repurchase_cycle"](spark, SF_DIR).collect()
        }
        assert set(out) == set(gaps)
        for seg, gs in gaps.items():
            gs.sort()
            r = out[seg]
            assert r["n_gaps"] == len(gs)
            assert abs(r["median_gap_days"] - _interp_quantile(gs, 0.5)) < 1e-9
            p90 = _interp_quantile(gs, 0.9)
            assert abs(r["p90_gap_days"] - p90) < 1e-9
            custs = [ck for ck in cust_days if seg_of[ck] == seg]
            overdue = sum(
                1 for ck in custs if (horizon - last[ck]) > r["p90_gap_days"]
            )
            assert r["n_customers"] == len(custs)
            assert r["n_overdue"] == overdue
            assert 0 <= r["n_overdue"] < r["n_customers"]
