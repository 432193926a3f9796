"""Round-6 sixty-first wave: dynamic-gap session windows."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")

GAP_US = {"purchase": 30 * 60 * 1_000_000}
DEFAULT_GAP_US = 10 * 60 * 1_000_000


class TestDynamicGapSessions:
    def test_matches_python_interval_merge(self, spark):
        rows = duckdb.sql(
            f"""SELECT user_id, event_id, event_type,
                       epoch_us(CAST(ts AS TIMESTAMP))
                FROM '{SF_DIR}/events.parquet'"""
        ).fetchall()
        by_user = defaultdict(list)
        for u, eid, et, us in rows:
            by_user[u].append((int(us), eid, et))
        want = defaultdict(lambda: defaultdict(int))  # user -> start -> n
        for u, evs in by_user.items():
            evs.sort()
            max_end = None
            start = None
            for us, _, et in evs:
                gap = GAP_US.get(et, DEFAULT_GAP_US)
                if max_end is None or us > max_end:
                    start = us  # new session
                    max_end = us + gap
                else:
                    max_end = max(max_end, us + gap)
                want[u][start] += 1
        out = defaultdict(dict)
        for r in QUERIES["stream_session_dynamic_gap"](
            spark, SF_DIR
        ).collect():
            out[r["user_id"]][r["session_start_us"]] = r["n_events"]
        assert {u: dict(v) for u, v in out.items()} == {
            u: dict(v) for u, v in want.items()
        }

    def test_purchase_gap_extends_sessions(self, spark):
        # with a uniform 10-min gap the session count can only be >= the
        # dynamic count (longer purchase gaps merge more)
        import pyspark.sql.functions as F

        from databricks_sales_etl_pipeline_spark.catalog import load

        e = load(spark, SF_DIR, "events")
        uniform = (
            e.groupBy(F.session_window("ts", "10 minutes"), "user_id")
            .count()
            .count()
        )
        dynamic = QUERIES["stream_session_dynamic_gap"](
            spark, SF_DIR
        ).count()
        assert dynamic <= uniform
