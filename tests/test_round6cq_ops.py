"""Round-6 ninety-eighth wave: forecast reconciliation, Borda/Condorcet."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.warehouse import (
    HREC_WIN,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestHierReconcile:
    def test_children_sum_exactly_to_parent(self, spark):
        rows = QUERIES["ext_hier_reconcile"](spark, SF_DIR).collect()
        top = rows[0]["top_fc_cents"]
        assert sum(r["reconciled_fc_cents"] for r in rows) == top
        # naive forecasts are genuinely incoherent (else the op is moot)
        assert rows[0]["naive_sum_cents"] != top

    def test_matches_python_reference(self, spark):
        mrev = duckdb.sql(
            f"""SELECT p.p_brand,
                       CAST(year(o.o_orderdate) * 100
                            + month(o.o_orderdate) AS BIGINT),
                       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT)
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/orders.parquet' o
                  ON o.o_orderkey = l.l_orderkey
                JOIN '{SF_DIR}/part.parquet' p
                  ON p.p_partkey = l.l_partkey
                GROUP BY 1, 2"""
        ).fetchall()
        mx = max(int(m) for _, m, _ in mrev)
        mx_idx = (mx // 100) * 12 + mx % 100
        per = defaultdict(int)
        for b, m, r in mrev:
            if (int(m) // 100) * 12 + int(m) % 100 > mx_idx - HREC_WIN:
                per[b] += int(r)
        fc = {b: s // HREC_WIN for b, s in per.items()}
        total = sum(per.values()) // HREC_WIN
        base_sum = sum(fc.values())
        floors = {b: v * total // base_sum for b, v in fc.items()}
        rem = sorted(
            fc, key=lambda b: (-(fc[b] * total % base_sum), b)
        )
        left = total - sum(floors.values())
        reconciled = {
            b: floors[b] + (1 if i < left else 0)
            for i, b in enumerate(rem)
        }
        got = {
            r["brand"]: (
                r["naive_fc_cents"], r["reconciled_fc_cents"],
                r["top_fc_cents"], r["naive_sum_cents"],
            )
            for r in QUERIES["ext_hier_reconcile"](spark, SF_DIR).collect()
        }
        assert got == {
            b: (fc[b], reconciled[b], total, base_sum) for b in fc
        }


class TestBordaCondorcet:
    def _ranks(self):
        rev = duckdb.sql(
            f"""SELECT n.n_name, p.p_brand,
                       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT)
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/orders.parquet' o
                  ON o.o_orderkey = l.l_orderkey
                JOIN '{SF_DIR}/customer.parquet' c
                  ON c.c_custkey = o.o_custkey
                JOIN '{SF_DIR}/nation.parquet' n
                  ON n.n_nationkey = c.c_nationkey
                JOIN '{SF_DIR}/part.parquet' p
                  ON p.p_partkey = l.l_partkey
                GROUP BY 1, 2"""
        ).fetchall()
        cells = {(v, b): int(r) for v, b, r in rev}
        voters = sorted({v for v, _ in cells})
        brands = sorted({b for _, b in cells})
        ranks = {}
        for v in voters:
            order = sorted(
                brands, key=lambda b: (-cells.get((v, b), 0), b)
            )
            for rk, b in enumerate(order, 1):
                ranks[(v, b)] = rk
        return voters, brands, ranks

    def test_matches_python_reference(self, spark):
        voters, brands, ranks = self._ranks()
        nb, nv = len(brands), len(voters)
        borda = {
            b: sum(nb - ranks[(v, b)] for v in voters) for b in brands
        }
        wins = {}
        for a in brands:
            w = 0
            for b in brands:
                if a == b:
                    continue
                pref = sum(
                    1 for v in voters if ranks[(v, a)] < ranks[(v, b)]
                )
                if 2 * pref > nv:
                    w += 1
            wins[a] = w
        got = {
            r["brand"]: (
                r["borda_score"], r["n_voters"], r["pairwise_wins"],
                r["is_condorcet"],
            )
            for r in QUERIES["ext_borda_condorcet"](
                spark, SF_DIR
            ).collect()
        }
        assert got == {
            b: (borda[b], nv, wins[b], wins[b] == nb - 1)
            for b in brands
        }

    def test_structure(self, spark):
        rows = QUERIES["ext_borda_condorcet"](spark, SF_DIR).collect()
        assert sum(1 for r in rows if r["is_condorcet"]) <= 1
        total_wins = sum(r["pairwise_wins"] for r in rows)
        nb = len(rows)
        assert total_wins <= nb * (nb - 1) // 2 + nb  # ties impossible
