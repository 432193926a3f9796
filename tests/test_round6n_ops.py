"""Round-6 fourteenth wave: BLEU-2, t-closeness, crawl frontier, audio
silence segmentation — verified against pure-Python recomputations."""

from __future__ import annotations

import os

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.curation import (
    CRAWL_DELAY_S,
    CRAWL_WORKERS,
    T_CLOSE_PPM,
)
from databricks_sales_etl_pipeline_spark.extensions.multimodal import (
    AUDIO_FRAME,
    AUDIO_SIL_THRESH,
    MM_DOC_LIMIT,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestEvalBleu:
    def test_order_sensitivity_and_formula(self, spark):
        out = {r["doc_id"]: r for r in QUERIES["ext_eval_bleu"](spark, SF_DIR).collect()}
        assert out
        docs = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .where("doc_id % 5 = 0")
            .collect()
        }
        assert set(out) == set(docs)
        below = 0
        for doc_id, text in docs.items():
            ref = [t for t in text.lower().split() if t]
            cand = [t for i, t in enumerate(ref) if i % 3 != 2]
            from collections import Counter

            c1 = sum((Counter(cand) & Counter(ref)).values())
            rbg = Counter(zip(ref, ref[1:]))
            cbg = Counter(zip(cand, cand[1:]))
            c2 = sum((cbg & rbg).values())
            r = out[doc_id]
            assert r["len_ref"] == len(ref) and r["len_cand"] == len(cand)
            assert r["p1_num"] == c1 and r["p2_num"] == c2
            p1 = 1_000_000 * c1 // len(cand)
            p2 = 1_000_000 * c2 // (len(cand) - 1)
            bp = min(1_000_000, 1_000_000 * len(cand) // len(ref))
            assert r["p1_ppm"] == p1 and r["p2_ppm"] == p2
            assert r["brevity_ppm"] == bp
            import math

            assert r["bleu2_ppm"] == bp * int(math.isqrt(p1 * p2)) // 1_000_000
            # candidate is a sub-multiset of ref → unigram precision is 1
            assert p1 == 1_000_000
            if p2 < p1:
                below += 1
        # dropping tokens breaks adjacency: bigram precision must fall
        # below unigram precision on most documents
        assert below > len(docs) * 3 // 4


class TestTCloseness:
    def test_matches_python_tv(self, spark):
        import duckdb

        base = duckdb.sql(
            f"""SELECT n.n_name, c.c_mktsegment AS seg
                FROM '{SF_DIR}/customer.parquet' c
                JOIN '{SF_DIR}/nation.parquet' n
                  ON n.n_nationkey = c.c_nationkey"""
        ).fetchall()
        from collections import Counter

        cell = Counter(base)
        grp = Counter(g for g, _ in base)
        seg = Counter(s for _, s in base)
        n_tot = len(base)
        out = {r["n_name"]: r for r in QUERIES["ext_t_closeness"](spark, SF_DIR).collect()}
        assert set(out) == set(grp)
        for g in grp:
            num = sum(
                abs(cell.get((g, s), 0) * n_tot - seg[s] * grp[g]) for s in seg
            )
            tv = num * 1_000_000 // (2 * grp[g] * n_tot)
            assert out[g]["tv_ppm"] == tv, (g, out[g]["tv_ppm"], tv)
            assert out[g]["n_rows"] == grp[g]
            assert out[g]["t_violation"] == (1 if tv > T_CLOSE_PPM else 0)


class TestCrawlFrontier:
    def test_politeness_invariants(self, spark):
        rows = QUERIES["ext_crawl_frontier"](spark, SF_DIR).collect()
        assert rows
        by_host, by_worker = {}, {}
        for r in rows:
            by_host.setdefault(r["host"], []).append(r)
            by_worker.setdefault(r["worker_id"], []).append(r)
        assert len(by_worker) > 1  # hosts spread over the fleet
        for host, hs in by_host.items():
            # one worker per host (politeness invariant)
            assert len({r["worker_id"] for r in hs}) == 1
            # dense fetch sequence 0..n-1, 15 s apart
            seqs = sorted(r["host_seq"] for r in hs)
            assert seqs == list(range(len(hs)))
            for r in hs:
                assert r["fetch_at_s"] == r["host_seq"] * CRAWL_DELAY_S
                assert 0 <= r["worker_id"] < CRAWL_WORKERS
        for wid, ws in by_worker.items():
            mk = max(r["fetch_at_s"] for r in ws)
            assert all(r["worker_makespan_s"] == mk for r in ws)


class TestAudioSilenceSplit:
    def test_matches_generator_replay(self, spark):
        out = {}
        for r in QUERIES["mm_audio_silence_split"](spark, SF_DIR).collect():
            out.setdefault(r["doc_id"], []).append(r)
        assert out
        for doc_id in list(out)[:40]:
            n = (doc_id % 50 + 1) * 16
            samples = [((doc_id * 13 + i * 5) % 4096) - 2048 for i in range(n)]
            frames = [
                samples[i : i + AUDIO_FRAME]
                for i in range(0, n, AUDIO_FRAME)
            ]
            energies = [sum(s * s for s in fr) for fr in frames]
            segs, cur = [], None
            for fi, e in enumerate(energies):
                if e >= AUDIO_SIL_THRESH:
                    if cur is None:
                        cur = [fi, fi, 0]
                    cur[1] = fi
                    cur[2] += e
                else:
                    if cur is not None:
                        segs.append(tuple(cur))
                    cur = None
            if cur is not None:
                segs.append(tuple(cur))
            got = sorted(
                (r["start_frame"], r["end_frame"], r["seg_energy"])
                for r in out[doc_id]
            )
            assert got == sorted(segs), (doc_id, got, segs)
            # seg_idx is 1..k in start order
            idx = sorted(r["seg_idx"] for r in out[doc_id])
            assert idx == list(range(1, len(segs) + 1))
            assert doc_id < MM_DOC_LIMIT
