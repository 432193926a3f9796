"""Round-6 thirty-third wave: token-budget selection, dispersion index."""

from __future__ import annotations

import os

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.curriculum import BUDGET_TOKENS

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")

_STOPS = ("the", "a", "of", "and", "to", "in", "is")


class TestBudgetSelect:
    def test_matches_python_greedy_knapsack(self, spark):
        docs = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
        }
        scored = []
        for doc_id, text in docs.items():
            tk = [t for t in text.lower().split() if t]
            if not tk:
                continue
            q = len([t for t in tk if t in _STOPS]) * 1000 // len(tk)
            scored.append((doc_id, len(tk), q))
        scored.sort(key=lambda r: (-r[2], r[0]))
        cum, want = 0, {}
        for doc_id, n, q in scored:
            cum += n
            want[doc_id] = (n, q, cum, 1 if cum <= BUDGET_TOKENS else 0)
        out = {r["doc_id"]: r for r in QUERIES["ext_budget_select"](spark, SF_DIR).collect()}
        assert set(out) == set(want)
        for doc_id, (n, q, cum, sel) in want.items():
            r = out[doc_id]
            assert (
                r["n_tokens"],
                r["quality_permille"],
                r["cum_tokens"],
                r["selected"],
            ) == (n, q, cum, sel)
        n_sel = sum(1 for v in want.values() if v[3])
        assert 0 < n_sel < len(want)  # the budget actually binds
        # selected set total respects the budget; adding the marginal doc
        # would exceed it
        sel_tokens = max(v[2] for v in want.values() if v[3])
        assert sel_tokens <= BUDGET_TOKENS


class TestDispersionIndex:
    def test_matches_python_moments(self, spark):
        import duckdb
        from collections import Counter

        rows = duckdb.sql(
            f"""SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
                FROM '{SF_DIR}/events.parquet'"""
        ).fetchall()
        daily = Counter(rows)
        by_type = {}
        for (et, _), x in daily.items():
            by_type.setdefault(et, []).append(x)
        out = {r["event_type"]: r for r in QUERIES["ext_dispersion_index"](spark, SF_DIR).collect()}
        assert set(out) == set(by_type)
        for et, xs in by_type.items():
            n, sx, sxx = len(xs), sum(xs), sum(v * v for v in xs)
            disp = (n * sxx - sx * sx) * 1000 // (n * sx)
            r = out[et]
            assert (r["n"], r["sx"], r["sxx"]) == (n, sx, sxx)
            assert r["dispersion_milli"] == disp
            assert r["overdispersed"] == (1 if disp > 1500 else 0)
            assert disp >= 0
