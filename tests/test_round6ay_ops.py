"""Round-6 fifty-fourth wave: pattern match, named window, inline VALUES."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestPatternMatch:
    def test_matches_python_patterns(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(o_orderdate AS DATE),
                       SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        epoch = __import__("datetime").date(1970, 1, 1)
        days = [(d - epoch).days for d, _ in rows]
        xs = [int(x) for _, x in rows]
        n = len(xs)
        peaks = spikes = 0
        first_spike = None
        for i in range(n):
            if 0 < i < n - 1 and xs[i] > xs[i - 1] and xs[i] > xs[i + 1]:
                peaks += 1
            if (
                2 <= i < n - 2
                and xs[i - 1] > xs[i - 2]
                and xs[i] > xs[i - 1]
                and xs[i + 1] < xs[i]
                and xs[i + 2] < xs[i + 1]
            ):
                spikes += 1
                if first_spike is None:
                    first_spike = days[i]
        rally = best = 0
        for i in range(1, n):
            if xs[i] > xs[i - 1]:
                rally += 1
                best = max(best, rally)
            else:
                rally = 0
        r = QUERIES["ext_pattern_match"](spark, SF_DIR).collect()[0]
        assert r["n_days"] == n
        assert r["n_peaks"] == peaks
        assert r["n_spikes"] == spikes
        assert r["first_spike_day"] == first_spike
        assert r["longest_rally"] == best
        assert peaks > 0  # a noisy daily series HAS local maxima


class TestNamedWindow:
    def test_top3_and_running_sum_share_frame(self, spark):
        rows = duckdb.sql(
            f"""SELECT o_orderpriority, o_orderkey,
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        by_prio = defaultdict(list)
        for p, k, c in rows:
            by_prio[p].append((-int(c), int(k)))
        out = defaultdict(list)
        for r in sorted(
            QUERIES["sql_named_window"](spark, SF_DIR).collect(),
            key=lambda r: (r["o_orderpriority"], r["rk"]),
        ):
            out[r["o_orderpriority"]].append(r)
        for p, lst in by_prio.items():
            lst.sort()
            top3 = lst[:3]
            got = out[p]
            assert [g["o_orderkey"] for g in got] == [k for _, k in top3]
            run = 0
            for g, (negc, _) in zip(got, top3):
                run += -negc
                assert g["price_cents"] == -negc
                assert g["running_cents"] == run


class TestValuesInline:
    def test_matches_python_tiers(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        tiers = {
            "small": (0, 10_000_000),
            "medium": (10_000_000, 30_000_000),
            "large": (30_000_000, 99_999_999_999),
        }
        want = defaultdict(lambda: [0, 0])
        for (c,) in rows:
            for name, (lo, hi) in tiers.items():
                if lo <= c < hi:
                    want[name][0] += 1
                    want[name][1] += c
        out = {
            r["tier_name"]: r
            for r in QUERIES["sql_values_inline"](spark, SF_DIR).collect()
        }
        assert set(out) == set(want)
        for name, (n, rev) in want.items():
            assert (out[name]["n_orders"], out[name]["rev_cents"]) == (
                n,
                rev,
            )
        assert sum(n for n, _ in want.values()) == len(rows)
