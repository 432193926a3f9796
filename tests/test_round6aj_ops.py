"""Round-6 thirty-ninth wave: template mining, HHI, PCA step, SQL vars."""

from __future__ import annotations

import hashlib
import math
import os
import re
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _head_skeleton(text: str) -> str:
    toks = [
        t for t in re.sub(r"[0-9]+", "#", text.lower()).split() if t
    ]
    return " ".join(toks[:8])


class TestTemplateMining:
    def test_matches_python_head_skeletons(self, spark):
        rows = duckdb.sql(
            f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
        groups = defaultdict(list)
        for doc_id, text in rows:
            head = _head_skeleton(text)
            groups[hashlib.md5(head.encode()).hexdigest()].append(
                (doc_id, text, len(head))
            )
        want = {
            h: (
                min(ln for _, _, ln in g),
                len(g),
                len({t for _, t, _ in g}),
                min(d for d, _, _ in g),
            )
            for h, g in groups.items()
            if len(g) >= 2
        }
        out = {
            r["skeleton_md5"]: r
            for r in QUERIES["ext_template_mining"](spark, SF_DIR).collect()
        }
        assert set(out) == set(want)
        assert want  # the fixture corpus HAS templated heads at this sf
        for h, (ln, n, nd, ex) in want.items():
            r = out[h]
            assert (
                r["head_len"],
                r["n_docs"],
                r["n_distinct_texts"],
                r["example_doc_id"],
            ) == (ln, n, nd, ex)
        # the interesting rows: same head, different bodies
        assert any(r["n_distinct_texts"] > 1 for r in out.values())

    def test_planted_template_cluster(self):
        texts = [
            "order 123 shipped to zone 4 fragile priority mail extra",
            "order 9876 shipped to zone 12 fragile priority post item",
            "order 5 shipped to zone 55 fragile priority other words",
            "completely different text here nothing shared at all ok",
        ]
        heads = {_head_skeleton(t) for t in texts}
        assert len(heads) == 2  # three templated docs share one skeleton


class TestHhiConcentration:
    def test_matches_python_hhi_cr4(self, spark):
        rows = duckdb.sql(
            f"""SELECT p.p_brand, l.l_suppkey,
                       SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5)
                           AS BIGINT))
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/part.parquet' p
                  ON p.p_partkey = l.l_partkey
                GROUP BY 1, 2"""
        ).fetchall()
        mkts = defaultdict(dict)
        for brand, s, rev in rows:
            mkts[brand][s] = int(rev)
        out = {
            r["brand"]: r
            for r in QUERIES["ext_hhi_concentration"](spark, SF_DIR).collect()
        }
        assert set(out) == set(mkts)
        for brand, sup in mkts.items():
            total = sum(sup.values())
            shares = {
                s: rev * 1_000_000 // total for s, rev in sup.items()
            }
            hhi = sum(v * v for v in shares.values()) // 1_000_000
            ranked = sorted(sup.items(), key=lambda kv: (-kv[1], kv[0]))
            cr4 = sum(shares[s] for s, _ in ranked[:4])
            r = out[brand]
            assert (r["n_suppliers"], r["total_rev"]) == (len(sup), total)
            assert r["hhi_ppm"] == hhi
            assert r["cr4_ppm"] == cr4
            assert 0 <= r["hhi_ppm"] <= 1_000_000
            assert r["cr4_ppm"] <= 1_000_000


class TestPcaPowerStep:
    def test_matches_python_gram_column(self, spark):
        rows = duckdb.sql(
            f"SELECT embedding FROM '{SF_DIR}/embeddings.parquet'"
        ).fetchall()
        qvs = [
            [int(math.floor(float(x) * 1000 + 0.5)) for x in emb]
            for (emb,) in rows
        ]
        dims = len(qvs[0])
        g = [sum(v[d] * v[0] for v in qvs) for d in range(dims)]
        gmax = max(abs(x) for x in g)
        out = {
            r["dim"]: r
            for r in QUERIES["ext_pca_power_step"](spark, SF_DIR).collect()
        }
        assert set(out) == set(range(1, dims + 1))
        for d in range(dims):
            r = out[d + 1]
            assert r["gram_0d"] == g[d]
            sign = -1 if g[d] < 0 else 1
            assert r["component_ppm"] == sign * (
                abs(g[d]) * 1_000_000 // gmax
            )
        # dim 1 is X^T X e1's self-term: strictly positive and maximal-ish
        assert out[1]["gram_0d"] > 0


class TestSqlSessionVariable:
    def test_matches_python_threshold_cut(self, spark):
        rows = duckdb.sql(
            f"""SELECT o_orderpriority,
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        total = sum(c for _, c in rows)
        thresh = total // len(rows)
        want = defaultdict(lambda: [0, 0])
        for prio, c in rows:
            if c > thresh:
                want[prio][0] += 1
                want[prio][1] += c
        out = {
            r["o_orderpriority"]: r
            for r in QUERIES["sql_session_variable"](spark, SF_DIR).collect()
        }
        assert set(out) == set(want)
        for prio, (n, rev) in want.items():
            assert (out[prio]["n_above"], out[prio]["rev_above_cents"]) == (
                n,
                rev,
            )

    def test_idempotent_in_shared_session(self, spark):
        a = QUERIES["sql_session_variable"](spark, SF_DIR).collect()
        b = QUERIES["sql_session_variable"](spark, SF_DIR).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
