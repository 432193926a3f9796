"""Round-6 eightieth wave: Markov absorption, weighted quantiles."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import (
    ABS_K,
    ABS_TARGET,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestMarkovAbsorption:
    def test_matches_python_chain(self, spark):
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
        states = sorted(out)
        p = {s: 10**6 if s == ABS_TARGET else 0 for s in states}
        for _ in range(ABS_K):
            p = {
                s: 10**6
                if s == ABS_TARGET
                else sum(tm.get((s, t), 0) * p[t] for t in states)
                // 10**6
                for s in states
            }
        got = {
            r["state"]: (r["n_out"], r["p_hit_ppm"])
            for r in QUERIES["ext_markov_absorption"](
                spark, SF_DIR
            ).collect()
        }
        assert got == {s: (out[s], p[s]) for s in states}

    def test_probabilities_sane(self, spark):
        rows = QUERIES["ext_markov_absorption"](spark, SF_DIR).collect()
        by = {r["state"]: r["p_hit_ppm"] for r in rows}
        assert by[ABS_TARGET] == 10**6
        for s, v in by.items():
            assert 0 <= v <= 10**6
        # with ~uniform 5-type transitions, 6 steps reach purchase often
        assert all(v > 10**5 for v in by.values())


class TestWeightedQuantiles:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT p.p_brand,
                       CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT),
                       CAST(l.l_quantity AS BIGINT)
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/part.parquet' p
                  ON p.p_partkey = l.l_partkey"""
        ).fetchall()
        per = defaultdict(list)
        for b, c, w in rows:
            per[b].append((int(c), int(w)))
        expect = {}
        for b, xs in per.items():
            xs.sort()
            tw = sum(w for _, w in xs)
            qs = []
            for thr in ((tw + 3) // 4, (tw + 1) // 2, (3 * tw + 3) // 4):
                cw = 0
                for c, w in xs:
                    cw += w
                    if cw >= thr:
                        qs.append(c)
                        break
            expect[b] = (tw, *qs)
        got = {
            r["brand"]: (
                r["total_weight"],
                r["wq25_cents"],
                r["wmedian_cents"],
                r["wq75_cents"],
            )
            for r in QUERIES["ext_weighted_quantiles"](
                spark, SF_DIR
            ).collect()
        }
        assert got == expect

    def test_monotone(self, spark):
        for r in QUERIES["ext_weighted_quantiles"](spark, SF_DIR).collect():
            assert r["wq25_cents"] <= r["wmedian_cents"] <= r["wq75_cents"]
