"""Round-6 sixty-fifth wave: degree distribution, assortativity."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _edges():
    return duckdb.sql(
        f"""SELECT DISTINCT l1.l_partkey, l2.l_partkey
            FROM '{SF_DIR}/lineitem.parquet' l1
            JOIN '{SF_DIR}/lineitem.parquet' l2
              ON l2.l_orderkey = l1.l_orderkey
             AND l1.l_partkey < l2.l_partkey"""
    ).fetchall()


class TestDegreeDistribution:
    def test_matches_python_buckets(self, spark):
        deg = defaultdict(int)
        for a, b in _edges():
            deg[a] += 1
            deg[b] += 1
        buckets = defaultdict(lambda: [0, None, None])
        for d in deg.values():
            b = d.bit_length() - 1
            cell = buckets[b]
            cell[0] += 1
            cell[1] = d if cell[1] is None else min(cell[1], d)
            cell[2] = d if cell[2] is None else max(cell[2], d)
        out = {
            r["deg_log2"]: r
            for r in QUERIES["ext_degree_distribution"](
                spark, SF_DIR
            ).collect()
        }
        assert set(out) == set(buckets)
        prev = None
        for b in sorted(buckets):
            n, lo, hi = buckets[b]
            r = out[b]
            assert (r["n_vertices"], r["min_deg"], r["max_deg"]) == (
                n,
                lo,
                hi,
            )
            assert r["prev_n"] == (n if prev is None else prev)
            prev = n
        assert sum(v[0] for v in buckets.values()) == len(deg)


class TestAssortativity:
    def test_matches_python_edge_pearson(self, spark):
        deg = defaultdict(int)
        es = _edges()
        for a, b in es:
            deg[a] += 1
            deg[b] += 1
        pairs = [(deg[a], deg[b]) for a, b in es] + [
            (deg[b], deg[a]) for a, b in es
        ]
        m = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        r_want = (m * sxy - sx * sy) / math.sqrt(
            (m * sxx - sx * sx) * (m * syy - sy * sy)
        )
        r = QUERIES["ext_assortativity"](spark, SF_DIR).collect()[0]
        assert (r["m"], r["sx"], r["sy"]) == (m, sx, sy)
        assert math.isclose(r["assortativity"], r_want, rel_tol=1e-12)
        assert -1.0 - 1e-12 <= r["assortativity"] <= 1.0 + 1e-12
        # symmetric construction → sx == sy by definition
        assert r["sx"] == r["sy"]
