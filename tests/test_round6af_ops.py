"""Round-6 thirty-fifth wave: chi2 independence, HITS, item-item CF."""

from __future__ import annotations

import math
import os
from collections import defaultdict
from itertools import combinations

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.drift import (
    CHI2_PRIOS,
    CHI2_SEGS,
)
from databricks_sales_etl_pipeline_spark.extensions.graph import HITS_TOP_K
from databricks_sales_etl_pipeline_spark.extensions.retail import (
    ITEMCF_MIN_CO,
    ITEMCF_TOP_K,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestChi2Independence:
    def test_matches_python_contingency(self, spark):
        rows = duckdb.sql(
            f"""SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*)
                FROM '{SF_DIR}/orders.parquet' o
                JOIN '{SF_DIR}/customer.parquet' c
                  ON o.o_custkey = c.c_custkey
                GROUP BY 1, 2"""
        ).fetchall()
        obs = {(s, p): int(n) for s, p, n in rows}
        grid = [
            [obs.get((sg, pr), 0) for pr in CHI2_PRIOS] for sg in CHI2_SEGS
        ]
        n = sum(map(sum, grid))
        r = [sum(row) for row in grid]
        c = [sum(grid[i][j] for i in range(5)) for j in range(5)]
        chi2 = 0.0
        for i in range(5):
            for j in range(5):
                e = r[i] * c[j] / n
                chi2 += (grid[i][j] - e) ** 2 / e
        out = QUERIES["ext_chi2_independence"](spark, SF_DIR).collect()
        assert len(out) == 1
        row = out[0]
        assert row["n"] == n
        assert row["dof"] == 16
        # fp association order differs from the shared expression tree —
        # compare with tolerance; exactness vs DuckDB is the parity test
        assert math.isclose(row["chi2_value"], chi2, rel_tol=1e-9)
        assert math.isclose(
            row["cramers_v"], math.sqrt(chi2 / (n * 4)), rel_tol=1e-9
        )
        assert row["reject_h0"] == (1 if row["chi2_value"] > 26.296 else 0)
        assert 0.0 <= row["cramers_v"] <= 1.0


class TestHitsBipartite:
    def test_matches_python_hits_iteration(self, spark):
        edges = duckdb.sql(
            f"""SELECT DISTINCT l_suppkey, l_partkey
                FROM '{SF_DIR}/lineitem.parquet'"""
        ).fetchall()
        a1 = defaultdict(int)
        for _, p in edges:
            a1[p] += 1
        h1 = defaultdict(int)
        nparts = defaultdict(int)
        for s, p in edges:
            h1[s] += a1[p]
            nparts[s] += 1
        hmax = max(h1.values())
        want = sorted(h1.items(), key=lambda kv: (-kv[1], kv[0]))[:HITS_TOP_K]
        out = QUERIES["ext_hits_bipartite"](spark, SF_DIR).collect()
        assert [(r["suppkey"], r["h1"]) for r in out] == want
        for r in out:
            assert r["n_parts"] == nparts[r["suppkey"]]
            assert r["hub_ppm"] == r["h1"] * 1_000_000 // hmax
        # hub ranking must differ from raw catalog-size ranking somewhere,
        # or the authority weighting added nothing (true on the fixture)
        by_nparts = sorted(
            h1, key=lambda s: (-nparts[s], s)
        )[: len(out)]
        assert [r["suppkey"] for r in out] != by_nparts


class TestItemCF:
    def test_matches_python_topk(self, spark):
        rows = duckdb.sql(
            f"""SELECT DISTINCT l_orderkey, l_partkey
                FROM '{SF_DIR}/lineitem.parquet'"""
        ).fetchall()
        baskets = defaultdict(set)
        freq = defaultdict(int)
        for o, i in rows:
            baskets[o].add(i)
            freq[i] += 1
        co = defaultdict(int)
        for items in baskets.values():
            for x, y in combinations(sorted(items), 2):
                co[(x, y)] += 1
        neigh = defaultdict(list)
        for (x, y), n_ab in co.items():
            if n_ab < ITEMCF_MIN_CO:
                continue
            for it, nb in ((x, y), (y, x)):
                ppm = n_ab * n_ab * 1_000_000 // (freq[it] * freq[nb])
                neigh[it].append((-ppm, -n_ab, nb))
        want = {}
        for it, cand in neigh.items():
            cand.sort()
            want[it] = [
                (nb, -nppm, -nab) for nppm, nab, nb in cand[:ITEMCF_TOP_K]
            ]
        out = defaultdict(list)
        for r in sorted(
            QUERIES["ext_recsys_itemcf"](spark, SF_DIR).collect(),
            key=lambda r: (r["item"], r["rk"]),
        ):
            out[r["item"]].append((r["neighbor"], r["cosine2_ppm"], r["n_ab"]))
            assert r["n_item"] == freq[r["item"]]
            assert r["n_neighbor"] == freq[r["neighbor"]]
        assert dict(out) == want
        assert want  # candidate pairs exist at this sf
