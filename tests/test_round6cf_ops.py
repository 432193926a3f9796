"""Round-6 eighty-seventh wave: Viterbi trellis, matrix profile."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import (
    VIT_K,
    VIT_START,
)
from databricks_sales_etl_pipeline_spark.extensions.drift import MP_W

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestViterbiPath:
    def test_matches_python_dp(self, spark):
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
        idx = {s: i + 1 for i, s in enumerate(states)}
        delta = {s: 10**6 if s == VIT_START else 0 for s in states}
        expect = {}
        for k in range(1, VIT_K + 1):
            nxt, prv = {}, {}
            for t in states:
                best = max(
                    (
                        (delta[s] * tm.get((s, t), 0) // 10**6) * 16
                        + (15 - idx[s]),
                        s,
                    )
                    for s in states
                )
                nxt[t] = best[0] // 16
                prv[t] = best[1]
            delta = nxt
            for t in states:
                expect[(k, t)] = (delta[t], prv[t])
        got = {
            (r["step"], r["state"]): (r["delta_ppm"], r["prev_state"])
            for r in QUERIES["ext_viterbi_path"](spark, SF_DIR).collect()
        }
        assert got == expect

    def test_delta_decays(self, spark):
        rows = QUERIES["ext_viterbi_path"](spark, SF_DIR).collect()
        per_step = defaultdict(int)
        for r in rows:
            per_step[r["step"]] = max(per_step[r["step"]], r["delta_ppm"])
        # max-product mass never grows step over step
        for k in range(2, VIT_K + 1):
            assert per_step[k] <= per_step[k - 1]


class TestMatrixProfile:
    def test_matches_python_bruteforce(self, spark):
        daily = duckdb.sql(
            f"""SELECT CAST(datediff('day', DATE '1970-01-01',
                                     CAST(o_orderdate AS DATE)) AS BIGINT),
                       CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT))
                            // 1000 AS BIGINT)
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        ds = [int(d) for d, _ in daily]
        vs = [int(v) for _, v in daily]
        n = len(vs)
        wins = [
            (i + 1, ds[i], vs[i : i + MP_W])
            for i in range(n - MP_W + 1)
        ]
        prof = {}
        for i, di, wa in wins:
            best = None
            for j, dj, wb in wins:
                if abs(j - i) < MP_W:
                    continue
                dist = sum((a - b) ** 2 for a, b in zip(wa, wb))
                key = dist * 100000 + j
                if best is None or key < best[0]:
                    best = (key, (dist, j, dj))
            prof[(i, di)] = best[1]
        motif = min(
            (v[0], k[0], k[1], v[1], v[2]) for k, v in prof.items()
        )
        discord = min(
            (-v[0], k[0], k[1], v[1], v[2]) for k, v in prof.items()
        )
        rows = {
            r["kind"]: r
            for r in QUERIES["ext_matrix_profile"](spark, SF_DIR).collect()
        }
        m = rows["motif"]
        assert (m["dist_sq_kdollars"], m["i"], m["day_i"], m["j"],
                m["day_j"]) == motif
        d = rows["discord"]
        assert (-d["dist_sq_kdollars"], d["i"], d["day_i"], d["j"],
                d["day_j"]) == discord

    def test_motif_tighter_than_discord(self, spark):
        rows = {
            r["kind"]: r
            for r in QUERIES["ext_matrix_profile"](spark, SF_DIR).collect()
        }
        assert (
            rows["motif"]["dist_sq_kdollars"]
            < rows["discord"]["dist_sq_kdollars"]
        )
        assert abs(rows["motif"]["j"] - rows["motif"]["i"]) >= MP_W
