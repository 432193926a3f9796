"""Round-6 nineteenth wave: seasonal decomposition, peak concurrency,
ABC classification — verified against pure-Python recomputations."""

from __future__ import annotations

import os

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import SESSION_GAP_MIN

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _sdiv(num: int, den: int, scale: int = 1000) -> int:
    return -((-num) * scale // den) if num < 0 else num * scale // den


class TestSeasonalDecompose:
    def test_matches_python_decomposition(self, spark):
        import duckdb

        daily = duckdb.sql(
            f"""SELECT CAST(o_orderdate AS DATE) AS dd, COUNT(*) AS x
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        import datetime

        epoch = datetime.date(1970, 1, 1)
        days = [((d - epoch).days, int(x)) for d, x in daily]
        xs = dict(days)
        interior = []
        ds = [d for d, _ in days]
        for i, (d, x) in enumerate(days):
            if i < 3 or i >= len(days) - 3:
                continue
            window = days[i - 3 : i + 4]
            tr = sum(v for _, v in window)
            interior.append((d, x, (d + 3) % 7, tr, 7 * x - tr))
        from collections import defaultdict

        s_num, s_den = defaultdict(int), defaultdict(int)
        for _, _, dow, _, det in interior:
            s_num[dow] += det
            s_den[dow] += 1
        out = {r["d"]: r for r in QUERIES["ext_seasonal_decompose"](spark, SF_DIR).collect()}
        assert set(out) == {d for d, *_ in interior}
        for d, x, dow, tr, det in interior:
            r = out[d]
            assert (r["x"], r["dow"], r["trend7_sum"], r["detrend7"]) == (
                x,
                dow,
                tr,
                det,
            )
            assert r["seasonal_milli"] == _sdiv(s_num[dow], 7 * s_den[dow])
            assert r["resid_milli"] == _sdiv(
                det * s_den[dow] - s_num[dow], 7 * s_den[dow]
            )
        # the seasonal means sum to ~0 across the week (decomposition sanity)
        assert abs(sum(s_num.values())) < 7 * max(s_den.values()) * 7


class TestPeakConcurrency:
    def test_matches_bruteforce_sweep(self, spark):
        events = (
            spark.read.parquet(f"{SF_DIR}/events.parquet")
            .selectExpr("user_id", "ts")
            .collect()
        )
        from collections import defaultdict

        per_user = defaultdict(list)
        for r in events:
            us = int(r["ts"].timestamp() * 1_000_000)
            per_user[r["user_id"]].append(us)
        ivals = []
        gap = SESSION_GAP_MIN * 60_000_000
        for u, ts in per_user.items():
            ts.sort()
            start = prev = ts[0]
            sid = 1
            for t in ts[1:]:
                if t - prev > gap:
                    ivals.append((start, prev + 1, u, sid))
                    start = t
                    sid += 1
                prev = t
            ivals.append((start, prev + 1, u, sid))
        deltas = []
        for s, e, u, sid in ivals:
            deltas.append((s, 1, u, sid))
            deltas.append((e, -1, u, sid))
        deltas.sort(key=lambda r: (r[0], -r[1], r[2], r[3]))
        conc, best = 0, defaultdict(int)
        n_changes = defaultdict(int)
        for t, d, _, _ in deltas:
            conc += d
            hb = t // 3_600_000_000
            best[hb] = max(best[hb], conc)
            n_changes[hb] += 1
        out = {r["hour_bucket"]: r for r in QUERIES["ext_peak_concurrency"](spark, SF_DIR).collect()}
        assert set(out) == set(best)
        for hb in best:
            assert out[hb]["peak_concurrency"] == best[hb], hb
            assert out[hb]["n_changes"] == n_changes[hb]


class TestInventoryAbc:
    def test_pareto_classes(self, spark):
        rows = sorted(
            QUERIES["ext_inventory_abc"](spark, SF_DIR).collect(),
            key=lambda r: r["rk"],
        )
        total = sum(r["rev_cents"] for r in rows)
        cum = 0
        for r in rows:
            cum += r["rev_cents"]
            assert r["cum_cents"] == cum
            want = (
                "A"
                if cum * 100 <= total * 80
                else ("B" if cum * 100 <= total * 95 else "C")
            )
            assert r["abc_class"] == want
        # revenue is ranked descending with the part tiebreak
        revs = [(-(r["rev_cents"]), r["part_id"]) for r in rows]
        assert revs == sorted(revs)
        # all three classes exist on this distribution
        assert {r["abc_class"] for r in rows} == {"A", "B", "C"}
