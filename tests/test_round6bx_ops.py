"""Round-6 seventy-ninth wave: time-decay attribution, Wald SPRT."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import (
    TDK_MAX_K,
    TDK_SCALE,
)
from databricks_sales_etl_pipeline_spark.extensions.drift import (
    SPRT_BOUND_MICRO,
    SPRT_L0_MICRO,
    SPRT_L1_MICRO,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestAttributionTimedecay:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT user_id, event_type,
                       epoch(CAST(ts AS TIMESTAMP)), event_id
                FROM '{SF_DIR}/events.parquet'
                ORDER BY user_id, 3 DESC, event_id DESC"""
        ).fetchall()
        users = defaultdict(list)
        for uid, et, ep, eid in rows:
            users[uid].append((et, int(ep)))
        expect = defaultdict(lambda: [0, 0])
        for touches in users.values():
            anchor = max(ep for _, ep in touches)
            ws = [
                TDK_SCALE >> min((anchor - ep) // 86400, TDK_MAX_K)
                for _, ep in touches
            ]
            tot = sum(ws)
            floors = [w * 10000 // tot for w in ws]
            floors[0] += 10000 - sum(floors)  # most recent touch
            for (et, _), bp in zip(touches, floors):
                expect[et][0] += bp
                expect[et][1] += 1
        got = {
            r["event_type"]: (r["credit_bp"], r["n_touches"])
            for r in QUERIES["ext_attribution_timedecay"](
                spark, SF_DIR
            ).collect()
        }
        assert got == {k: tuple(v) for k, v in expect.items()}

    def test_total_credit_conserved(self, spark):
        rows = QUERIES["ext_attribution_timedecay"](spark, SF_DIR).collect()
        n_users = duckdb.sql(
            f"SELECT COUNT(DISTINCT user_id) FROM '{SF_DIR}/events.parquet'"
        ).fetchone()[0]
        assert sum(r["credit_bp"] for r in rows) == 10000 * n_users


class TestSprtSequential:
    def test_matches_python_walk(self, spark):
        rows = duckdb.sql(
            f"""SELECT user_id,
                       MAX(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END)
                FROM '{SF_DIR}/events.parquet'
                GROUP BY user_id ORDER BY user_id"""
        ).fetchall()
        cum = 0
        first_h1 = first_h0 = 0
        for rn, (_, conv) in enumerate(rows, 1):
            cum += SPRT_L1_MICRO if conv else SPRT_L0_MICRO
            if cum >= SPRT_BOUND_MICRO and first_h1 == 0:
                first_h1 = rn
            if cum <= -SPRT_BOUND_MICRO and first_h0 == 0:
                first_h0 = rn
        r = QUERIES["ext_sprt_sequential"](spark, SF_DIR).collect()[0]
        assert r["n_users"] == len(rows)
        assert r["n_converted"] == sum(c for _, c in rows)
        assert r["llr_final_micro"] == cum
        assert (r["first_h1_cross"], r["first_h0_cross"]) == (
            first_h1, first_h0
        )
        if first_h1 and (first_h0 == 0 or first_h1 < first_h0):
            assert r["decision"] == "accept_h1"
        elif first_h0:
            assert r["decision"] == "accept_h0"
        else:
            assert r["decision"] == "continue"

    def test_constants_are_the_wald_values(self, spark):
        assert SPRT_L1_MICRO == round(1e6 * math.log(0.90 / 0.85))
        assert SPRT_L0_MICRO == round(1e6 * math.log(0.10 / 0.15))
        assert SPRT_BOUND_MICRO == round(1e6 * math.log(19))
