"""Round-6 seventy-sixth wave: BH FDR control, grid-DBSCAN clustering."""

from __future__ import annotations

import os
from collections import Counter

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.drift import (
    FDR_ALPHA_PPM,
    FDR_DEV_CAP,
)
from databricks_sales_etl_pipeline_spark.extensions.similarity import (
    DBSCAN_CELL,
    DBSCAN_MINPTS,
    DBSCAN_OFF,
    DBSCAN_ROUNDS,
    _DBSCAN_ENC,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestFdrBh:
    def test_matches_python_bh(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(day(CAST(o_orderdate AS DATE)) AS BIGINT),
                       COUNT(*)
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1"""
        ).fetchall()
        counts = {int(d): int(n) for d, n in rows}
        big_n = sum(counts.values())
        num = 2700 * big_n * big_n + 28830 * big_n
        ps = []
        for dom, n_d in counts.items():
            dev = abs(31 * n_d - big_n)
            dc = min(dev, FDR_DEV_CAP)
            d2 = dc * dc
            if dc == 0 or num >= d2 * d2:
                p = 10**6
            else:
                p = ((num // d2) * 10**6 + ((num % d2) * 10**6) // d2) // d2
            assert dc > 0 and p == min(10**6, num * 10**6 // (d2 * d2))
            ps.append((p, dom, n_d, dev))
        ps.sort()
        m = len(ps)
        k_star = max(
            (k for k, (p, *_) in enumerate(ps, 1)
             if p * m <= k * FDR_ALPHA_PPM),
            default=0,
        )
        got = {
            r["dom"]: r
            for r in QUERIES["ext_fdr_bh"](spark, SF_DIR).collect()
        }
        assert len(got) == m
        for k, (p, dom, n_d, dev) in enumerate(ps, 1):
            r = got[dom]
            assert (r["n_d"], r["big_n"], r["dev"], r["p_ppm"], r["k"]) == (
                n_d, big_n, dev, p, k
            )
            assert r["m"] == m and r["k_star"] == k_star
            assert r["rejected"] == (k <= k_star)

    def test_day31_is_the_discovery(self, spark):
        # day 31 exists in only 7 of 12 months -> true positive at sf0.01;
        # days 1..28 are null and must survive
        rows = QUERIES["ext_fdr_bh"](spark, SF_DIR).collect()
        rej = {r["dom"] for r in rows if r["rejected"]}
        assert 31 in rej
        assert not rej & set(range(1, 29))


def _dbscan_python():
    pts = duckdb.sql(
        f"""SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000 + 0.5)
                        AS BIGINT),
                   CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000 + 0.5)
                        AS BIGINT)
            FROM '{SF_DIR}/embeddings.parquet'"""
    ).fetchall()
    cells = Counter(
        ((x + DBSCAN_OFF) // DBSCAN_CELL, (y + DBSCAN_OFF) // DBSCAN_CELL)
        for x, y in pts
    )
    core = {c for c, n in cells.items() if n >= DBSCAN_MINPTS}
    lbl = {c: c[0] * _DBSCAN_ENC + c[1] for c in core}
    # run to FIXPOINT (reference) and also bounded rounds
    bounded = None
    r = 0
    while True:
        nxt = {}
        for cx, cy in core:
            nxt[(cx, cy)] = min(
                lbl[(cx + dx, cy + dy)]
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
                if (cx + dx, cy + dy) in core
            )
        r += 1
        changed = nxt != lbl
        lbl = nxt
        if r == DBSCAN_ROUNDS:
            bounded = dict(lbl)
        if not changed and r >= DBSCAN_ROUNDS:
            break
    return cells, core, bounded, lbl


class TestDbscanCells:
    def test_matches_python_bounded(self, spark):
        cells, core, bounded, _ = _dbscan_python()
        expect = Counter()
        pts_per = Counter()
        for c in core:
            expect[bounded[c]] += 1
            pts_per[bounded[c]] += cells[c]
        noise_cells = [c for c in cells if c not in core]
        rows = QUERIES["ext_dbscan_cells"](spark, SF_DIR).collect()
        got = {r["cluster_id"]: (r["n_cells"], r["n_points"]) for r in rows}
        assert got[-1] == (
            len(noise_cells),
            sum(cells[c] for c in noise_cells),
        )
        del got[-1]
        assert got == {
            label: (expect[label], pts_per[label]) for label in expect
        }

    def test_bounded_rounds_converged_at_fixture_scale(self, spark):
        _, _, bounded, fix = _dbscan_python()
        assert bounded == fix

    def test_total_points_conserved(self, spark):
        rows = QUERIES["ext_dbscan_cells"](spark, SF_DIR).collect()
        total = duckdb.sql(
            f"SELECT COUNT(*) FROM '{SF_DIR}/embeddings.parquet'"
        ).fetchone()[0]
        assert sum(r["n_points"] for r in rows) == total
        assert sum(1 for r in rows if r["cluster_id"] != -1) >= 2
