"""Round-6 fifty-ninth wave: Youden threshold sweep, gains table."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.evalmetrics import (
    CAL_LONG_DOC_TOKENS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")

_STOPS = ("the", "a", "of", "and", "to", "in", "is")


def _bands():
    texts = [
        t
        for (t,) in duckdb.sql(
            f"SELECT text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    ]
    bands = defaultdict(lambda: [0, 0])  # band -> [n, pos]
    for t in texts:
        toks = [w for w in t.lower().split() if w]
        if not toks:
            continue
        p = 1000 * len([w for w in toks if w in _STOPS]) // len(toks)
        y = 1 if len(toks) >= CAL_LONG_DOC_TOKENS else 0
        b = bands[p // 100]
        b[0] += 1
        b[1] += y
    return bands


class TestYoudenThreshold:
    def test_matches_python_sweep(self, spark):
        bands = _bands()
        n_pos = sum(p for _, p in bands.values())
        n_neg = sum(n - p for n, p in bands.values())
        sweep = {}
        tp = fp = 0
        for b in sorted(bands, reverse=True):
            n, p = bands[b]
            tp += p
            fp += n - p
            sweep[b] = (tp, fp, tp * 1_000_000 // n_pos
                        - fp * 1_000_000 // n_neg)
        best = max(j for _, _, j in sweep.values())
        out = {
            r["threshold_decile"]: r
            for r in QUERIES["ext_youden_threshold"](spark, SF_DIR).collect()
        }
        assert set(out) == set(sweep)
        for b, (tp_, fp_, j) in sweep.items():
            r = out[b]
            assert (r["tp"], r["fp"]) == (tp_, fp_)
            assert (r["n_pos"], r["n_neg"]) == (n_pos, n_neg)
            assert r["youden_j_ppm"] == j
            assert r["is_best"] == (1 if j == best else 0)
        assert sum(r["is_best"] for r in out.values()) >= 1


class TestGainsTable:
    def test_matches_python_gains(self, spark):
        bands = _bands()
        n = sum(v for v, _ in bands.values())
        n_pos = sum(p for _, p in bands.values())
        cum = {}
        cn = cp = 0
        for b in sorted(bands, reverse=True):
            nb, pb = bands[b]
            cn += nb
            cp += pb
            cum[b] = (cn, cp)
        out = {
            r["band"]: r
            for r in QUERIES["ext_gains_table"](spark, SF_DIR).collect()
        }
        assert set(out) == set(cum)
        for b, (cn_, cp_) in cum.items():
            r = out[b]
            assert (r["cum_n"], r["cum_pos"]) == (cn_, cp_)
            assert r["depth_ppm"] == cn_ * 1_000_000 // n
            assert r["gain_ppm"] == cp_ * 1_000_000 // n_pos
            assert r["lift_milli"] == cp_ * n * 1000 // (n_pos * cn_)
        # the full-depth row captures everything at lift 1.0
        full = out[min(cum)]
        assert full["gain_ppm"] == 1_000_000
        assert full["lift_milli"] == 1000
