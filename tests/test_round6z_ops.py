"""Round-6 twenty-sixth wave: WordPiece trainer vs pure-Python reference."""

from __future__ import annotations

import os
from collections import Counter

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.bpe import EOW, N_MERGES

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _python_wordpiece(word_freqs: dict[str, int], n_merges: int):
    syms = {w: tuple(list(w) + [EOW]) for w in word_freqs}
    merges = []
    for step in range(1, n_merges + 1):
        pair_c: Counter = Counter()
        sym_c: Counter = Counter()
        for w, n in word_freqs.items():
            s = syms[w]
            for x in s:
                sym_c[x] += n
            for x, y in zip(s, s[1:]):
                pair_c[(x, y)] += n
        if not pair_c:
            break
        best = min(
            pair_c.items(),
            key=lambda kv: (
                -(kv[1] * 10**12 // (sym_c[kv[0][0]] * sym_c[kv[0][1]])),
                f"{kv[0][0]} {kv[0][1]}",  # pair-ASC tiebreak
            ),
        )
        (a, b), p = best
        score = p * 10**12 // (sym_c[a] * sym_c[b])
        merges.append((step, a, b, a + b, p, score))
        for w, s in syms.items():
            out = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[w] = tuple(out)
    return merges


class TestWordpieceTrain:
    def test_matches_python_reference_and_differs_from_bpe(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
        wf: Counter = Counter()
        for r in docs:
            for w in r["text"].lower().split():
                if w:
                    wf[w] += 1
        want = _python_wordpiece(dict(wf), N_MERGES)
        got = [
            (r["step"], r["left"], r["right"], r["merged"], r["pair_count"], r["score_e12"])
            for r in sorted(
                QUERIES["ext_wordpiece_train"](spark, SF_DIR).collect(),
                key=lambda r: r["step"],
            )
        ]
        assert got == want
        # likelihood ranking diverges from raw-frequency BPE on this corpus
        bpe = [
            (r["left"], r["right"])
            for r in sorted(
                QUERIES["ext_bpe_train"](spark, SF_DIR).collect(),
                key=lambda r: r["step"],
            )
        ]
        wp = [(a, b) for _, a, b, _, _, _ in got]
        assert wp != bpe


class TestSqlRebalanceHint:
    def test_rebalance_node_lands_and_is_semantics_preserving(self, spark):
        q = QUERIES["sql_rebalance_hint"](spark, SF_DIR)
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        assert "RebalancePartitions" in plan
        rows = {(r["l_returnflag"], r["l_linestatus"]): r for r in q.collect()}
        import duckdb

        want = duckdb.sql(
            f"""SELECT l_returnflag, l_linestatus, COUNT(*),
                       SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                FROM '{SF_DIR}/lineitem.parquet' GROUP BY 1, 2"""
        ).fetchall()
        assert len(rows) == len(want)
        for rf, ls, n, g in want:
            r = rows[(rf, ls)]
            assert r["n_lines"] == n and r["gross_cents"] == g
