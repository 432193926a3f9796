"""Round-6 ninety-fifth wave: streaming top-k, Markov removal effects."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import (
    ABS_K,
    ABS_TARGET,
    _REMOVAL_CHANNELS,
    _REMOVAL_START,
)
from databricks_sales_etl_pipeline_spark.streaming.tumbling import TREND_K

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestStreamTrendingTopk:
    def test_matches_batch_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)),
                       event_type, COUNT(*)
                FROM '{SF_DIR}/events.parquet' GROUP BY 1, 2"""
        ).fetchall()
        per = defaultdict(list)
        for h, et, n in rows:
            per[h].append((-int(n), et))
        expect = {}
        for h, lst in per.items():
            for rk, (negn, et) in enumerate(sorted(lst)[:TREND_K], 1):
                expect[(h, et)] = (-negn, rk)
        got = {
            (r["hour_start"], r["event_type"]): (r["n_events"], r["rk"])
            for r in QUERIES["stream_trending_topk"](
                spark, SF_DIR
            ).collect()
        }
        assert got == expect

    def test_k_per_window(self, spark):
        rows = QUERIES["stream_trending_topk"](spark, SF_DIR).collect()
        per = defaultdict(int)
        for r in rows:
            per[r["hour_start"]] += 1
            assert 1 <= r["rk"] <= TREND_K
        assert all(v <= TREND_K for v in per.values())


class TestMarkovRemoval:
    def _chain(self):
        rows = duckdb.sql(
            f"""SELECT user_id, event_type
                FROM '{SF_DIR}/events.parquet'
                ORDER BY user_id, ts, event_id"""
        ).fetchall()
        streams = defaultdict(list)
        for uid, et in rows:
            streams[uid].append(et)
        cnt = defaultdict(int)
        out = defaultdict(int)
        for seq in streams.values():
            for a, b in zip(seq, seq[1:]):
                cnt[(a, b)] += 1
                out[a] += 1
        tm = {k: c * 10**6 // out[k[0]] for k, c in cnt.items()}
        return tm, sorted(out)

    def test_matches_python_reference(self, spark):
        tm, all_states = self._chain()

        def absorb(excluded):
            states = [s for s in all_states if s != excluded]
            if _REMOVAL_START not in states:
                return 0
            p = {s: 10**6 if s == ABS_TARGET else 0 for s in states}
            for _ in range(ABS_K):
                p = {
                    s: 10**6
                    if s == ABS_TARGET
                    else sum(tm.get((s, t), 0) * p[t] for t in states)
                    // 10**6
                    for s in states
                }
            return p.get(_REMOVAL_START, 0)

        p_full = absorb(None)
        effects = {c: p_full - absorb(c) for c in _REMOVAL_CHANNELS}
        total = max(sum(effects.values()), 1)
        got = {
            r["channel"]: r
            for r in QUERIES["ext_markov_removal"](spark, SF_DIR).collect()
        }
        assert set(got) == set(_REMOVAL_CHANNELS)
        for c in _REMOVAL_CHANNELS:
            r = got[c]
            assert r["p_full_ppm"] == p_full
            assert r["effect_ppm"] == effects[c]
            assert r["p_without_ppm"] == p_full - effects[c]
            assert r["share_ppm"] == effects[c] * 10**6 // total

    def test_effects_nonneg_and_start_essential(self, spark):
        rows = {
            r["channel"]: r
            for r in QUERIES["ext_markov_removal"](spark, SF_DIR).collect()
        }
        for r in rows.values():
            assert r["effect_ppm"] >= 0
        # removing the start state kills every conversion
        assert rows[_REMOVAL_START]["p_without_ppm"] == 0
