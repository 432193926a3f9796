"""Round-6 sixty-ninth wave: cart abandonment, Erlang-B sizing."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.scanops import (
    ERLANG_MAX_C,
    ERLANG_SVC_S,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")

GAP_US = 30 * 60 * 1_000_000


class TestCartAbandonment:
    def test_matches_python_sessions(self, spark):
        rows = duckdb.sql(
            f"""SELECT user_id, event_type,
                       epoch_us(CAST(ts AS TIMESTAMP)), event_id
                FROM '{SF_DIR}/events.parquet'"""
        ).fetchall()
        by_user = defaultdict(list)
        for u, et, us, eid in rows:
            by_user[u].append((int(us), eid, et))
        stats = defaultdict(lambda: [0, 0, 0])  # dow -> sessions, click, aband
        for u, evs in by_user.items():
            evs.sort()
            sessions = []
            for us, _, et in evs:
                if not sessions or us - sessions[-1][-1][0] > GAP_US:
                    sessions.append([])
                sessions[-1].append((us, et))
            for sess in sessions:
                start = sess[0][0]
                dow = (start // 86_400_000_000 + 4) % 7
                has_click = any(et == "click" for _, et in sess)
                has_purchase = any(et == "purchase" for _, et in sess)
                s = stats[dow]
                s[0] += 1
                if has_click:
                    s[1] += 1
                    if not has_purchase:
                        s[2] += 1
        out = {
            r["dow"]: r
            for r in QUERIES["ext_cart_abandonment"](spark, SF_DIR).collect()
        }
        assert set(out) == set(stats)
        for dow, (n, wc, ab) in stats.items():
            r = out[dow]
            assert (r["n_sessions"], r["n_with_click"], r["n_abandoned"]) \
                == (n, wc, ab)
            if wc:
                assert r["abandonment_ppm"] == ab * 1_000_000 // wc


class TestErlangBlocking:
    def test_matches_python_recursion(self, spark):
        n, lo, hi = duckdb.sql(
            f"""SELECT COUNT(*),
                       MIN(epoch_us(CAST(ts AS TIMESTAMP))),
                       MAX(epoch_us(CAST(ts AS TIMESTAMP)))
                FROM '{SF_DIR}/events.parquet'"""
        ).fetchone()
        span = int(hi) - int(lo)
        a_milli = int(n) * ERLANG_SVC_S * 1000 * 1_000_000 // span
        b = 1_000_000
        want = []
        for c in range(1, ERLANG_MAX_C + 1):
            b = a_milli * b * 1000 // (
                c * 1_000_000_000 + a_milli * b // 1000
            )
            want.append((c, a_milli, b, 1 if b <= 10_000 else 0))
        out = sorted(
            (
                r["n_servers"],
                r["offered_load_milli"],
                r["blocking_ppm_x"],
                r["meets_1pct_sla"],
            )
            for r in QUERIES["ext_erlang_blocking"](spark, SF_DIR).collect()
        )
        assert out == want
        # blocking decreases monotonically with more servers
        bs = [b for _, _, b, _ in want]
        assert bs == sorted(bs, reverse=True)
