"""Round-6 forty-ninth wave: QQ table, Mahalanobis 2D, Cp/Cpk."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.drift import (
    CPK_LSL,
    CPK_USL,
    MAHAL_TOP_K,
    QQ_PROBS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _interp(sorted_vals, q):
    n = len(sorted_vals)
    pos = q * (n - 1)
    lo = int(pos)
    frac = pos - lo
    if lo + 1 >= n:
        return float(sorted_vals[lo])
    return sorted_vals[lo] + frac * (sorted_vals[lo + 1] - sorted_vals[lo])


class TestQqTable:
    def test_matches_python_quantiles(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
                       month(CAST(o_orderdate AS DATE)) <= 6
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        h1 = sorted(v for v, g in rows if g)
        h2 = sorted(v for v, g in rows if not g)
        out = {
            r["pct"]: r
            for r in QUERIES["ext_qq_table"](spark, SF_DIR).collect()
        }
        assert set(out) == {int(p * 100) for p in QQ_PROBS}
        for p in QQ_PROBS:
            r = out[int(p * 100)]
            assert math.isclose(r["q_h1"], _interp(h1, p), rel_tol=1e-12)
            assert math.isclose(r["q_h2"], _interp(h2, p), rel_tol=1e-12)
            assert r["qq_gap"] == r["q_h1"] - r["q_h2"]
        # quantiles are monotone across probes
        qs = [out[int(p * 100)]["q_h1"] for p in QQ_PROBS]
        assert qs == sorted(qs)


class TestMahalanobis2d:
    def test_matches_python_topk(self, spark):
        rows = duckdb.sql(
            f"""SELECT o_orderkey,
                       CAST(FLOOR(o_totalprice + 0.5) AS BIGINT),
                       datediff('day', DATE '1970-01-01',
                                CAST(o_orderdate AS DATE))
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        pts = [(int(k), int(x), int(y)) for k, x, y in rows]
        n = len(pts)
        sx = sum(x for _, x, _ in pts)
        sy = sum(y for _, _, y in pts)
        sxx = sum(x * x for _, x, _ in pts)
        syy = sum(y * y for _, _, y in pts)
        sxy = sum(x * y for _, x, y in pts)
        vxx = (sxx - sx * sx / n) / n
        vyy = (syy - sy * sy / n) / n
        vxy = (sxy - sx * sy / n) / n
        det = vxx * vyy - vxy * vxy
        scored = []
        for k, x, y in pts:
            dx, dy = x - sx / n, y - sy / n
            d2 = (dx * dx * vyy - 2 * dx * dy * vxy + dy * dy * vxx) / det
            scored.append((-d2, k, x, y))
        scored.sort()
        want = scored[:MAHAL_TOP_K]
        out = QUERIES["ext_mahalanobis_2d"](spark, SF_DIR).collect()
        assert len(out) == MAHAL_TOP_K
        assert [r["ok"] for r in out] == [k for _, k, _, _ in want]
        for r, (nd2, k, x, y) in zip(out, want):
            assert (r["x"], r["y"]) == (x, y)
            assert math.isclose(r["d2"], -nd2, rel_tol=1e-9)
        # outliers genuinely exceed the bulk
        assert out[0]["d2"] > 4.0


class TestProcessCapability:
    def test_matches_python_cpk(self, spark):
        rows = duckdb.sql(
            f"""SELECT o.o_orderpriority,
                       date_diff('day', CAST(o.o_orderdate AS DATE),
                                 CAST(l.l_shipdate AS DATE))
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/orders.parquet' o
                  ON o.o_orderkey = l.l_orderkey"""
        ).fetchall()
        m = defaultdict(lambda: [0, 0, 0])
        for prio, d in rows:
            c = m[prio]
            c[0] += 1
            c[1] += d
            c[2] += d * d
        out = {
            r["prio"]: r
            for r in QUERIES["ext_process_capability"](
                spark, SF_DIR
            ).collect()
        }
        assert set(out) == set(m)
        for prio, (n, s, ss) in m.items():
            r = out[prio]
            assert (r["n"], r["s"], r["ss"]) == (n, s, ss)
            sd = math.sqrt((ss - s * s / n) / (n - 1))
            mu = s / n
            cp = (CPK_USL - CPK_LSL) / (6 * sd)
            cpk = min(CPK_USL - mu, mu - CPK_LSL) / (3 * sd)
            assert math.isclose(r["cp"], cp, rel_tol=1e-12)
            assert math.isclose(r["cpk"], cpk, rel_tol=1e-12)
            assert r["capable"] == (1 if cpk > 1.33 else 0)
            assert r["cpk"] <= r["cp"] + 1e-12  # off-center never beats Cp
