"""Round-6 seventy-seventh wave: centroid silhouette, ROUGE-L LCS."""

from __future__ import annotations

import os
import re
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.evalmetrics import (
    ROUGE_MAXTOK,
    ROUGE_MOD,
)
from databricks_sales_etl_pipeline_spark.extensions.similarity import (
    SIL_OFF,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _points():
    rows = duckdb.sql(
        f"""SELECT vec_id, label,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5)
                                 AS BIGINT) + {SIL_OFF})
            FROM '{SF_DIR}/embeddings.parquet'"""
    ).fetchall()
    return [(int(v), int(lb), [int(x) for x in vec]) for v, lb, vec in rows]


class TestSilhouette:
    def test_matches_python_reference(self, spark):
        pts = _points()
        sums = defaultdict(lambda: None)
        counts = defaultdict(int)
        for _, lb, v in pts:
            counts[lb] += 1
            if sums[lb] is None:
                sums[lb] = list(v)
            else:
                sums[lb] = [a + b for a, b in zip(sums[lb], v)]
        cent = {
            lb: [s // counts[lb] for s in sums[lb]] for lb in sums
        }
        agg = defaultdict(lambda: [0, 0, 0])  # n, sum_s, n_neg
        for _, own, v in pts:
            dd = {
                lb: sum((a - b) ** 2 for a, b in zip(v, c))
                for lb, c in cent.items()
            }
            a = dd[own]
            b = min(
                (d, lb) for lb, d in dd.items() if lb != own
            )[0]
            mx = max(a, b)
            s = 0 if mx == 0 else (1 if b >= a else -1) * (
                abs(b - a) * 10**6 // mx
            )
            agg[own][0] += 1
            agg[own][1] += s
            agg[own][2] += 1 if s < 0 else 0
        rows = QUERIES["ext_silhouette"](spark, SF_DIR).collect()
        assert len(rows) == len(agg)
        for r in rows:
            n, ssum, neg = agg[r["label"]]
            mean = ssum // n if ssum >= 0 else -((-ssum) // n)
            assert (
                r["n_points"],
                r["sum_s_ppm"],
                r["mean_s_ppm"],
                r["n_misplaced"],
            ) == (n, ssum, mean, neg)

    def test_output_bounds(self, spark):
        # the fixture's labels are geometrically WEAK (mean silhouette
        # slightly negative, ~60% closer to a foreign centroid) — the
        # metric must report that honestly within [-1e6, 1e6]
        rows = QUERIES["ext_silhouette"](spark, SF_DIR).collect()
        for r in rows:
            assert -(10**6) <= r["mean_s_ppm"] <= 10**6
            assert 0 <= r["n_misplaced"] <= r["n_points"]
        assert sum(r["n_points"] for r in rows) == duckdb.sql(
            f"SELECT COUNT(*) FROM '{SF_DIR}/embeddings.parquet'"
        ).fetchone()[0]


def _lcs(a, b):
    n = len(a)
    prev = [0] * n
    for i in range(n):
        cur = [0] * n
        for j in range(n):
            if a[i] == b[j]:
                cur[j] = (prev[j - 1] if i > 0 and j > 0 else 0) + 1
            else:
                cur[j] = max(prev[j] if i > 0 else 0,
                             cur[j - 1] if j > 0 else 0)
        prev = cur
    return prev[-1]


class TestRougeLcs:
    def test_matches_python_dp(self, spark):
        docs = duckdb.sql(
            f"""SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'
                WHERE doc_id % {ROUGE_MOD} = 0"""
        ).fetchall()
        expect = {}
        for doc_id, text in docs:
            a = [t for t in re.split(r"\s+", text.lower()) if t][
                :ROUGE_MAXTOK
            ]
            n = len(a)
            if n < 2:
                continue
            b = []
            for i in range(1, n + 1):
                if (i - 1) % 3 == 1 and i + 1 <= n:
                    b.append(a[i])
                elif (i - 1) % 3 == 2:
                    b.append(a[i - 2])
                else:
                    b.append(a[i - 1])
            lcs = _lcs(a, b)
            expect[int(doc_id)] = (n, lcs, lcs * 10**6 // n)
        rows = QUERIES["ext_rouge_lcs"](spark, SF_DIR).collect()
        got = {
            r["doc_id"]: (r["n_tok"], r["lcs_len"], r["rouge_l_ppm"])
            for r in rows
        }
        assert got == expect

    def test_order_sensitivity(self, spark):
        # the swap keeps the bag identical, so any LCS < n proves the
        # metric sees order; and LCS >= n/2 always (every third token
        # is untouched + one of each swapped pair survives)
        rows = QUERIES["ext_rouge_lcs"](spark, SF_DIR).collect()
        assert rows
        assert any(r["lcs_len"] < r["n_tok"] for r in rows)
        for r in rows:
            assert r["lcs_len"] * 2 >= r["n_tok"]
