"""Round-6 eighty-fifth wave: k-center greedy, consistent-hash ring."""

from __future__ import annotations

import hashlib
import os

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.distsys import (
    RING_NODES,
    RING_VNODES,
    _RING_SALT,
)
from databricks_sales_etl_pipeline_spark.extensions.similarity import KC_K

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _band(key: str, mod: int, salt: str) -> int:
    return int(hashlib.md5((salt + key).encode()).hexdigest()[:8], 16) % mod


def _pts():
    rows = duckdb.sql(
        f"""SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5)
                                 AS BIGINT))
            FROM '{SF_DIR}/embeddings.parquet' ORDER BY vec_id"""
    ).fetchall()
    return [(int(i), [int(x) for x in v]) for i, v in rows]


def _sq(a, b):
    return sum((x - y) ** 2 for x, y in zip(a, b))


class TestKcenterGreedy:
    def test_matches_python_gonzalez(self, spark):
        pts = _pts()
        centers = [(1, pts[0][0], pts[0][1], 0)]
        for k in range(2, KC_K + 1):
            far = min(
                (
                    (-min(_sq(v, c[2]) for c in centers), i)
                    for i, v in pts
                )
            )
            vid = far[1]
            v = dict(pts)[vid]
            centers.append((k, vid, v, -far[0]))
        assign = {}
        for i, v in pts:
            best = min(
                (_sq(v, c[2]) * 10 + c[0], c[0]) for c in centers
            )
            assign[i] = (best[1], (best[0] - best[1]) // 10)
        expect = {}
        for step, vid, _, radius in centers:
            cell = [d for (o, d) in assign.values() if o == step]
            expect[step] = (
                vid, radius, len(cell), max(cell) if cell else 0
            )
        got = {
            r["step"]: (
                r["center_id"], r["radius_when_added"], r["n_assigned"],
                r["cell_radius"],
            )
            for r in QUERIES["ext_kcenter_greedy"](spark, SF_DIR).collect()
        }
        assert got == expect

    def test_radii_decrease(self, spark):
        rows = sorted(
            QUERIES["ext_kcenter_greedy"](spark, SF_DIR).collect(),
            key=lambda r: r["step"],
        )
        radii = [r["radius_when_added"] for r in rows[1:]]
        assert radii == sorted(radii, reverse=True)
        assert sum(r["n_assigned"] for r in rows) == len(_pts())


class TestConsistentHashRing:
    def test_matches_python_ring(self, spark):
        keys = duckdb.sql(
            f"SELECT o_orderkey FROM '{SF_DIR}/orders.parquet'"
        ).fetchall()
        keys = [int(k) for (k,) in keys]

        def ring(n):
            vn = sorted(
                (
                    _band(f"vn:{i}", 2**32, _RING_SALT),
                    i // RING_VNODES,
                )
                for i in range(n * RING_VNODES)
            )
            return vn

        import bisect

        def owner(vn, kh):
            hs = [h for h, _ in vn]
            j = bisect.bisect_left(hs, kh)
            return vn[j][1] if j < len(vn) else vn[0][1]

        ra, rb = ring(RING_NODES), ring(RING_NODES + 1)
        moved = 0
        after = {}
        gained = {}
        for k in keys:
            kh = _band(f"k:{k}", 2**32, _RING_SALT)
            a, b = owner(ra, kh), owner(rb, kh)
            after[b] = after.get(b, 0) + 1
            if a != b:
                moved += 1
                gained[b] = gained.get(b, 0) + 1
        rows = QUERIES["ext_consistent_hash_ring"](spark, SF_DIR).collect()
        got = {
            r["node"]: (r["keys_after"], r["keys_gained"])
            for r in rows
        }
        assert got == {
            n: (after[n], gained.get(n, 0)) for n in after
        }
        r0 = rows[0]
        assert r0["total_keys"] == len(keys)
        assert r0["moved_keys"] == moved
        assert r0["moved_ppm"] == moved * 10**6 // len(keys)

    def test_movement_bounded(self, spark):
        # consistent hashing: ~1/(n+1) of keys move; assert within 3x
        r = QUERIES["ext_consistent_hash_ring"](spark, SF_DIR).collect()[0]
        frac = r["moved_ppm"] / 1e6
        assert frac < 3 / (RING_NODES + 1)
        assert frac > 1 / (3 * (RING_NODES + 1))
