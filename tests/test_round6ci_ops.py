"""Round-6 ninetieth wave: IDENTIFIER clause, Huffman coding."""

from __future__ import annotations

import os
import re
from collections import Counter

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.lm import HUF_N

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestIdentifierClause:
    def test_matches_direct_query(self, spark):
        rows = QUERIES["sql_identifier_clause"](spark, SF_DIR).collect()
        direct = duckdb.sql(
            f"""SELECT o_orderpriority, COUNT(*),
                       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1"""
        ).fetchall()
        got = {
            r["o_orderpriority"]: (r["n_orders"], r["revenue_cents"])
            for r in rows
        }
        assert got == {p: (int(n), int(c)) for p, n, c in direct}


def _python_huffman():
    docs = duckdb.sql(
        f"SELECT text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    cnt = Counter()
    for (text,) in docs:
        cnt.update(t for t in re.split(r"\s+", text.lower()) if t)
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:HUF_N]
    active = [(f, i + 1) for i, (_, f) in enumerate(top)]
    par = {}
    nxt = HUF_N + 1
    while len(active) > 1:
        k1 = min(f * 100 + i for f, i in active)
        f1, i1 = k1 // 100, k1 % 100
        rest = [(f, i) for f, i in active if i != i1]
        k2 = min(f * 100 + i for f, i in rest)
        f2, i2 = k2 // 100, k2 % 100
        par[i1] = par[i2] = nxt
        active = [(f, i) for f, i in rest if i != i2] + [(f1 + f2, nxt)]
        nxt += 1

    def depth(i):
        d = 0
        while i in par:
            i = par[i]
            d += 1
        return d

    return {
        tok: (f, depth(i + 1)) for i, (tok, f) in enumerate(top)
    }


class TestHuffmanCode:
    def test_matches_python_reference(self, spark):
        expect = _python_huffman()
        rows = QUERIES["ext_huffman_code"](spark, SF_DIR).collect()
        got = {r["tok"]: (r["freq"], r["code_len"]) for r in rows}
        assert got == expect
        total = sum(f * l for f, l in expect.values())
        fixed = sum(f * 4 for f, _ in expect.values())
        for r in rows:
            assert (r["total_bits"], r["fixed_bits"]) == (total, fixed)
            assert r["bits"] == r["freq"] * r["code_len"]

    def test_kraft_equality_and_optimality(self, spark):
        rows = QUERIES["ext_huffman_code"](spark, SF_DIR).collect()
        lens = [r["code_len"] for r in rows]
        L = max(lens)
        assert sum(2 ** (L - l) for l in lens) == 2**L  # full prefix tree
        # Huffman beats (or ties) the fixed-width baseline
        r0 = rows[0]
        assert r0["total_bits"] <= r0["fixed_bits"]
        # more frequent symbols never get longer codes
        by_freq = sorted(rows, key=lambda r: -r["freq"])
        for a, b in zip(by_freq, by_freq[1:]):
            assert a["code_len"] <= b["code_len"]
