"""Round-6 twenty-first wave: weighted SSSP and Theil-Sen slope."""

from __future__ import annotations

import os

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.graph import (
    SSSP_DEGREE,
    SSSP_HOPS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestGraphSssp:
    def test_matches_python_bellman_ford(self, spark):
        import duckdb
        from collections import Counter, defaultdict

        baskets = duckdb.sql(
            f"""SELECT DISTINCT l.l_orderkey, p.p_brand
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/part.parquet' p ON p.p_partkey = l.l_partkey"""
        ).fetchall()
        orders = defaultdict(set)
        for ok, br in baskets:
            orders[ok].add(br)
        cnt = Counter()
        for basket in orders.values():
            bs = sorted(basket)
            for i in range(len(bs)):
                for j in range(i + 1, len(bs)):
                    cnt[(bs[i], bs[j])] += 1
        out_edges = defaultdict(list)
        for (x, y), c in cnt.items():
            out_edges[x].append((-c, y, 1_000_000 // c))
            out_edges[y].append((-c, x, 1_000_000 // c))
        edges = []
        for src, lst in out_edges.items():
            for negc, dst, w in sorted(lst)[:SSSP_DEGREE]:
                edges.append((src, dst, w))
        src0 = min(s for s, _, _ in edges)
        dist = {src0: 0}
        for _ in range(SSSP_HOPS):
            nd = dict(dist)
            for s, d, w in edges:
                if s in dist and dist[s] + w < nd.get(d, 1 << 60):
                    nd[d] = dist[s] + w
            dist = nd
        got = {r["brand"]: r["dist"] for r in QUERIES["ext_graph_sssp"](spark, SF_DIR).collect()}
        assert got == dist
        assert got[src0] == 0
        assert len(got) > 1  # something is reachable


class TestTheilsenSlope:
    def test_matches_python_median_of_slopes(self, spark):
        import duckdb
        import statistics

        daily = duckdb.sql(
            f"""SELECT CAST(o_orderdate AS DATE) AS dd, COUNT(*)
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        import datetime

        epoch = datetime.date(1970, 1, 1)
        pts = [((d - epoch).days, int(x)) for d, x in daily]
        slopes = []
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                dx = pts[j][0] - pts[i][0]
                dy = pts[j][1] - pts[i][1]
                s = -((-dy) * 1000 // dx) if dy < 0 else dy * 1000 // dx
                slopes.append(s)
        r = QUERIES["ext_theilsen_slope"](spark, SF_DIR).collect()[0]
        assert r["n_days"] == len(pts)
        assert r["n_pairs"] == len(slopes)
        assert r["slope_min"] == min(slopes)
        assert r["slope_max"] == max(slopes)
        assert abs(r["slope_milli_median"] - statistics.median(slopes)) < 1e-9
