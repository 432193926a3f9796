"""Round-6 thirty-sixth wave: Zipf check, isotonic calibration, c-chart."""

from __future__ import annotations

import math
import os
from collections import Counter, defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.evalmetrics import (
    ISO_BAND_CENTS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _flog2(n: int) -> int:
    return n.bit_length() - 1


class TestZipfCheck:
    def test_matches_python_doubling_buckets(self, spark):
        texts = [
            t
            for (t,) in duckdb.sql(
                f"SELECT text FROM '{SF_DIR}/documents.parquet'"
            ).fetchall()
        ]
        freq = Counter(w for t in texts for w in t.lower().split() if w)
        ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
        buckets = defaultdict(lambda: [0, 0, 0, 0])  # n, total, max, sum_flog2
        for r, (tok, f) in enumerate(ranked, start=1):
            b = buckets[_flog2(r)]
            b[0] += 1
            b[1] += f
            b[2] = max(b[2], f)
            b[3] += _flog2(f)
        want = {}
        for rb, (n, tot, mx, sfl) in buckets.items():
            want[rb] = (n, tot, mx, sfl * 1000 // n)
        out = {
            r["rank_log2"]: r
            for r in QUERIES["ext_zipf_check"](spark, SF_DIR).collect()
        }
        assert set(out) == set(want)
        prev = None
        for rb in sorted(want):
            n, tot, mx, mean = want[rb]
            r = out[rb]
            assert (
                r["n_tokens"],
                r["total_freq"],
                r["max_freq"],
                r["mean_flog2_milli"],
            ) == (n, tot, mx, mean)
            expect_drop = 0 if prev is None else prev - mean
            assert r["drop_milli"] == expect_drop
            prev = mean
        # doubling buckets have 2^b members except the last (vocab edge)
        for rb in sorted(want)[:-1]:
            assert want[rb][0] == 2**rb


class TestIsotonicCalibration:
    def test_matches_bruteforce_minimax_and_is_monotone(self, spark):
        returned = {
            k
            for (k,) in duckdb.sql(
                f"""SELECT DISTINCT l_orderkey
                    FROM '{SF_DIR}/lineitem.parquet'
                    WHERE l_returnflag = 'R'"""
            ).fetchall()
        }
        orders = duckdb.sql(
            f"""SELECT o_orderkey,
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        bands = defaultdict(lambda: [0, 0])
        for k, cents in orders:
            b = bands[cents // ISO_BAND_CENTS]
            b[0] += 1
            b[1] += 1 if k in returned else 0
        keys = sorted(bands)
        cum_n = cum_p = 0
        pre_n, pre_p = {}, {}
        for k in keys:
            cum_n += bands[k][0]
            cum_p += bands[k][1]
            pre_n[k], pre_p[k] = cum_n, cum_p

        def avg(si, ti):
            s, t = keys[si], keys[ti]
            lo_n = pre_n[keys[si - 1]] if si else 0
            lo_p = pre_p[keys[si - 1]] if si else 0
            return (pre_p[t] - lo_p) * 1000 // (pre_n[t] - lo_n)

        want = {}
        for i, k in enumerate(keys):
            want[k] = max(
                min(avg(si, ti) for ti in range(i, len(keys)))
                for si in range(i + 1)
            )
        out = {
            r["band"]: r
            for r in QUERIES["ext_isotonic_calibration"](
                spark, SF_DIR
            ).collect()
        }
        assert set(out) == set(bands)
        for k in keys:
            r = out[k]
            assert (r["n"], r["pos"]) == tuple(bands[k])
            assert r["raw_milli"] == bands[k][1] * 1000 // bands[k][0]
            assert r["iso_milli"] == want[k]
        iso = [out[k]["iso_milli"] for k in keys]
        assert iso == sorted(iso)  # the fit is non-decreasing
        raw = [out[k]["raw_milli"] for k in keys]
        assert raw != sorted(raw) or iso != raw  # the fit did something


class TestControlChartC:
    def test_matches_python_three_sigma(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(o_orderdate AS DATE), COUNT(*)
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1"""
        ).fetchall()
        epoch = __import__("datetime").date(1970, 1, 1)
        daily = {(d - epoch).days: int(n) for d, n in rows}
        nd, sx = len(daily), sum(daily.values())
        cbar = sx / nd
        ucl = cbar + 3 * math.sqrt(cbar)
        lcl = max(cbar - 3 * math.sqrt(cbar), 0.0)
        out = {
            r["d"]: r
            for r in QUERIES["ext_control_chart_c"](spark, SF_DIR).collect()
        }
        assert set(out) == set(daily)
        for d, x in daily.items():
            r = out[d]
            assert r["x"] == x
            assert r["cbar_milli"] == sx * 1000 // nd
            assert r["breach_hi"] == (1 if x > ucl else 0)
            assert r["breach_lo"] == (1 if x < lcl else 0)
