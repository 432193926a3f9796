"""Round-6 forty-third wave: price indices, price dispersion, bot screen."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import (
    BOT_CV2_X10K,
    BOT_MIN_GAPS,
)
from databricks_sales_etl_pipeline_spark.extensions.retail import (
    DISPERSION_TOP_K,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _lines():
    return duckdb.sql(
        f"""SELECT l_partkey,
                   month(CAST(l_shipdate AS DATE)) <= 6,
                   CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT),
                   CAST(l_quantity AS BIGINT)
            FROM '{SF_DIR}/lineitem.parquet'"""
    ).fetchall()


class TestPriceIndex:
    def test_matches_python_matched_model(self, spark):
        agg = defaultdict(lambda: [0, 0, 0, 0])  # q0, r0, q1, r1
        for pk, base, rev, qty in _lines():
            a = agg[pk]
            if base:
                a[0] += qty
                a[1] += rev
            else:
                a[2] += qty
                a[3] += rev
        s_u0q0 = s_u1q0 = s_u0q1 = s_u1q1 = 0
        n_parts = 0
        for q0, r0, q1, r1 in agg.values():
            if q0 > 0 and q1 > 0:
                n_parts += 1
                u0 = r0 * 1000 // q0
                u1 = r1 * 1000 // q1
                s_u0q0 += u0 * q0
                s_u1q0 += u1 * q0
                s_u0q1 += u0 * q1
                s_u1q1 += u1 * q1
        r = QUERIES["ext_price_index"](spark, SF_DIR).collect()[0]
        assert r["n_parts"] == n_parts
        assert r["base_basket_milli"] == s_u0q0
        assert r["laspeyres_ppm"] == s_u1q0 * 1_000_000 // s_u0q0
        assert r["paasche_ppm"] == s_u1q1 * 1_000_000 // s_u0q1
        # both indices near parity on a stationary-price fixture
        assert 500_000 < r["laspeyres_ppm"] < 2_000_000


class TestPriceDispersion:
    def test_matches_python_topk_spread(self, spark):
        units = defaultdict(list)
        for pk, _, rev, qty in _lines():
            units[pk].append(rev * 1000 // qty)
        cand = []
        for pk, us in units.items():
            if len(us) >= 3:
                lo, hi = min(us), max(us)
                cand.append(((hi - lo) * 1_000_000 // lo, pk, len(us), lo, hi))
        cand.sort(key=lambda t: (-t[0], t[1]))
        want = cand[:DISPERSION_TOP_K]
        out = QUERIES["ext_price_dispersion"](spark, SF_DIR).collect()
        assert len(out) == len(want)
        for r, (spread, pk, n, lo, hi) in zip(out, want):
            assert (
                r["pk"],
                r["n_lines"],
                r["min_milli"],
                r["max_milli"],
                r["spread_ppm"],
            ) == (pk, n, lo, hi, spread)


class TestBotRegularity:
    def test_matches_python_cv2(self, spark):
        rows = duckdb.sql(
            f"""SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000,
                       event_id
                FROM '{SF_DIR}/events.parquet'"""
        ).fetchall()
        by_user = defaultdict(list)
        for u, s, eid in rows:
            by_user[u].append((int(s), eid))
        want = {}
        for u, evs in by_user.items():
            evs.sort()
            gaps = [b[0] - a[0] for a, b in zip(evs, evs[1:])]
            if len(gaps) < BOT_MIN_GAPS:
                continue
            n, sg, sgg = len(gaps), sum(gaps), sum(g * g for g in gaps)
            cv2 = (
                (n * sgg - sg * sg) * 10000 // (sg * sg) if sg > 0 else None
            )
            flag = 1 if (sg > 0 and cv2 < BOT_CV2_X10K) else 0
            want[u] = (n, sg, sgg, cv2, flag)
        out = {
            r["user_id"]: r
            for r in QUERIES["ext_bot_regularity"](spark, SF_DIR).collect()
        }
        assert set(out) == set(want)
        for u, (n, sg, sgg, cv2, flag) in want.items():
            r = out[u]
            assert (r["n_gaps"], r["sg"], r["sgg"]) == (n, sg, sgg)
            assert r["cv2_x10000"] == cv2
            assert r["bot_flag"] == flag
        # random fixture arrivals: nobody is metronome-regular
        assert all(r["bot_flag"] == 0 for r in out.values())
        assert want  # users with enough gaps exist

    def test_planted_metronome_flags(self, spark):
        import pyspark.sql.functions as F

        n, sg = 10, 600
        # perfectly regular: gaps all 60s → cv2 = 0 → flagged
        sgg = 10 * 60 * 60
        cv2 = (n * sgg - sg * sg) * 10000 // (sg * sg)
        assert cv2 == 0 and cv2 < BOT_CV2_X10K
