"""Round-6 fifty-first wave: eventually-follows, source overlap, trends."""

from __future__ import annotations

import hashlib
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.corpus import (
    TREND_MIN_DF,
    TREND_TOP_K,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestProcessMiningEf:
    def test_matches_python_bounds_logic(self, spark):
        rows = duckdb.sql(
            f"""SELECT user_id, event_type,
                       MIN(epoch_us(CAST(ts AS TIMESTAMP))),
                       MAX(epoch_us(CAST(ts AS TIMESTAMP)))
                FROM '{SF_DIR}/events.parquet' GROUP BY 1, 2"""
        ).fetchall()
        bounds = defaultdict(dict)
        for u, t, lo, hi in rows:
            bounds[u][t] = (int(lo), int(hi))
        counts = defaultdict(int)
        for u, per_type in bounds.items():
            for a, (a_first, _) in per_type.items():
                for b, (_, b_last) in per_type.items():
                    if a != b and a_first < b_last:
                        counts[(a, b)] += 1
        n_total = len(bounds)
        out = {
            (r["from_type"], r["to_type"]): r
            for r in QUERIES["ext_process_mining_ef"](
                spark, SF_DIR
            ).collect()
        }
        assert set(out) == set(counts)
        for key, n in counts.items():
            assert out[key]["n_users"] == n
            assert out[key]["share_ppm"] == n * 1_000_000 // n_total


class TestSourceOverlap:
    def test_matches_python_shingle_jaccard(self, spark):
        rows = duckdb.sql(
            f"SELECT source, text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
        sets = defaultdict(set)
        for src, text in rows:
            toks = [t for t in text.lower().split() if t]
            for i in range(len(toks) - 2):
                sets[src].add(" ".join(toks[i : i + 3]))
        srcs = sorted(sets)
        want = {}
        for i, a in enumerate(srcs):
            for b in srcs[i + 1 :]:
                inter = len(sets[a] & sets[b])
                if inter:
                    union = len(sets[a] | sets[b])
                    want[(a, b)] = (
                        len(sets[a]),
                        len(sets[b]),
                        inter,
                        inter * 1_000_000 // union,
                    )
        out = {
            (r["source_a"], r["source_b"]): r
            for r in QUERIES["ext_source_overlap"](spark, SF_DIR).collect()
        }
        assert set(out) == set(want)
        for key, (na, nb, inter, j) in want.items():
            r = out[key]
            assert (r["n_a"], r["n_b"], r["n_common"], r["jaccard_ppm"]) == (
                na,
                nb,
                inter,
                j,
            )
        assert want  # sources share vocabulary-derived shingles


class TestTermTrends:
    def test_matches_python_smoothed_ratio(self, spark):
        rows = duckdb.sql(
            f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()

        def band(doc_id):
            h = hashlib.md5(f"snap:{doc_id}".encode()).hexdigest()[:8]
            return int(h, 16) % 2

        df0, df1 = defaultdict(int), defaultdict(int)
        n0 = n1 = 0
        for doc_id, text in rows:
            toks = {t for t in text.lower().split() if t}
            if band(doc_id) == 0:
                n0 += 1
                for t in toks:
                    df0[t] += 1
            else:
                n1 += 1
                for t in toks:
                    df1[t] += 1
        cand = []
        for tok in set(df0) | set(df1):
            if df1[tok] < TREND_MIN_DF:
                continue
            score = (df1[tok] + 1) * (n0 + 1) * 1000 // (
                (df0[tok] + 1) * (n1 + 1)
            )
            cand.append((-score, tok, df0[tok], df1[tok]))
        cand.sort()
        want = cand[:TREND_TOP_K]
        out = QUERIES["ext_term_trends"](spark, SF_DIR).collect()
        assert [(r["tok"]) for r in out] == [t for _, t, _, _ in want]
        for r, (ns, t, d0, d1) in zip(out, want):
            assert (r["df0"], r["df1"], r["trend_milli"]) == (d0, d1, -ns)
