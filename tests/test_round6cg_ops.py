"""Round-6 eighty-eighth wave: Gale-Shapley matching, inspection paradox."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.optstats import GS_N

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestGaleShapley:
    def _model(self):
        rows = duckdb.sql(
            f"""SELECT l.l_suppkey, p.p_brand,
                       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT)
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/part.parquet' p
                  ON p.p_partkey = l.l_partkey
                GROUP BY 1, 2"""
        ).fetchall()
        sup_tot, br_tot = defaultdict(int), defaultdict(int)
        cell_all = {}
        for s, b, v in rows:
            s, v = int(s), int(v)
            sup_tot[s] += v
            br_tot[b] += v
            cell_all[(s, b)] = v
        sups = [s for _, s in sorted((-t, s) for s, t in sup_tot.items())][
            :GS_N
        ]
        brs = [b for _, b in sorted((-t, b) for b, t in br_tot.items())][
            :GS_N
        ]
        cell = {
            (s, b): cell_all.get((s, b), 0) for s in sups for b in brs
        }
        return sups, brs, cell

    def test_matching_is_stable(self, spark):
        sups, brs, cell = self._model()
        got = {
            r["brand"]: r
            for r in QUERIES["ext_gale_shapley"](spark, SF_DIR).collect()
        }
        assert set(got) == set(brs)
        match_of_b = {b: got[b]["supplier"] for b in brs}
        match_of_s = {v: k for k, v in match_of_b.items()}
        assert len(match_of_s) == GS_N  # perfect matching
        # stability: no blocking pair (s, b) both preferring each other
        si = {s: i for i, s in enumerate(sups)}
        bi = {b: i for i, b in enumerate(brs)}

        def s_pref(s, b1, b2):  # s prefers b1 over b2
            return (-cell[(s, b1)], bi[b1]) < (-cell[(s, b2)], bi[b2])

        def b_pref(b, s1, s2):
            return (-cell[(s1, b)], si[s1]) < (-cell[(s2, b)], si[s2])

        for s in sups:
            for b in brs:
                if match_of_s[s] == b:
                    continue
                assert not (
                    s_pref(s, b, match_of_s[s])
                    and b_pref(b, s, match_of_b[b])
                ), f"blocking pair {s} {b}"

    def test_affinity_and_ranks_consistent(self, spark):
        sups, brs, cell = self._model()
        for r in QUERIES["ext_gale_shapley"](spark, SF_DIR).collect():
            s, b = r["supplier"], r["brand"]
            assert r["affinity_cents"] == cell[(s, b)]
            assert 1 <= r["rank_by_supplier"] <= GS_N
            assert 1 <= r["rank_by_brand"] <= GS_N


class TestInspectionParadox:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT event_type,
                       epoch_us(CAST(ts AS TIMESTAMP)) // 1000000,
                       event_id
                FROM '{SF_DIR}/events.parquet'
                ORDER BY event_type, 2, 3"""
        ).fetchall()
        per = defaultdict(list)
        for et, t, _ in rows:
            per[et].append(int(t))
        expect = {}
        for et, ts in per.items():
            gaps = [b - a for a, b in zip(ts, ts[1:])]
            sg = sum(gaps)
            sq = sum(g * g for g in gaps)
            mean = sg // len(gaps)
            expect[et] = (
                len(gaps), sg, mean, sq // sg,
                sq * 1000 // (sg * mean),
            )
        got = {
            r["event_type"]: (
                r["n_gaps"], r["total_gap_s"], r["mean_gap_s"],
                r["sizebiased_mean_s"], r["paradox_ratio_milli"],
            )
            for r in QUERIES["ext_inspection_paradox"](
                spark, SF_DIR
            ).collect()
        }
        assert got == expect

    def test_paradox_direction(self, spark):
        # size-biased mean >= plain mean always (Cauchy-Schwarz)
        for r in QUERIES["ext_inspection_paradox"](spark, SF_DIR).collect():
            assert r["sizebiased_mean_s"] >= r["mean_gap_s"]
            assert r["paradox_ratio_milli"] >= 1000
