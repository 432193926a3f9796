"""Round-6 twenty-eighth wave: Shapley data-driven attribution."""

from __future__ import annotations

import os
from itertools import combinations

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import (
    SHAP_CHANNELS,
    SHAP_CONV,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestAttributionShapley:
    def test_matches_python_shapley(self, spark):
        import duckdb
        from collections import defaultdict
        from math import factorial

        rows = duckdb.sql(
            f"""SELECT user_id, event_type FROM '{SF_DIR}/events.parquet'"""
        ).fetchall()
        users = defaultdict(set)
        for u, t in rows:
            users[u].add(t)
        by_set = defaultdict(lambda: [0, 0])
        for u, types in users.items():
            bmp = sum(
                (1 << i) for i, ch in enumerate(SHAP_CHANNELS) if ch in types
            )
            by_set[bmp][0] += 1
            by_set[bmp][1] += 1 if SHAP_CONV in types else 0

        def rate(s):
            n, c = by_set.get(s, (0, 0))
            return c * 1_000_000 // n if n else 0

        k = len(SHAP_CHANNELS)
        want = {}
        for ci, ch in enumerate(SHAP_CHANNELS):
            phi24 = 0
            for s in range(16):
                if (s >> ci) & 1:
                    continue
                bits = bin(s).count("1")
                w24 = factorial(bits) * factorial(k - bits - 1)
                phi24 += w24 * (rate(s + (1 << ci)) - rate(s))
            want[ch] = phi24
        out = {r["channel"]: r for r in QUERIES["ext_attribution_shapley"](spark, SF_DIR).collect()}
        assert set(out) == set(SHAP_CHANNELS)
        for ch in SHAP_CHANNELS:
            assert out[ch]["phi24_ppm"] == want[ch], ch
        # efficiency (when every subset is populated): Σφ = v(full) − v(∅)
        if all(s in by_set for s in range(16)):
            total = sum(want.values())
            assert total == 24 * (rate(15) - rate(0))


class TestVocabGrowth:
    def test_matches_python_cumulative_distinct(self, spark):
        docs = sorted(
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
        )
        from databricks_sales_etl_pipeline_spark.extensions.textstats import (
            VOCAB_GRID_STEPS,
        )

        n_docs = docs[-1][0] + 1
        out = sorted(
            QUERIES["ext_vocab_growth"](spark, SF_DIR).collect(),
            key=lambda r: r["docs_seen"],
        )
        assert len(out) == VOCAB_GRID_STEPS
        prev = 0
        for r in out:
            seen = set()
            for doc_id, text in docs:
                if doc_id < r["docs_seen"]:
                    seen.update(t for t in text.lower().split() if t)
            assert r["vocab"] == len(seen), r["docs_seen"]
            assert r["new_tokens"] == len(seen) - prev
            prev = len(seen)
        assert out[-1]["docs_seen"] == n_docs
        # growth is monotone and decelerating on a natural-ish corpus
        vocabs = [r["vocab"] for r in out]
        assert vocabs == sorted(vocabs)


class TestFellegiWeights:
    def test_matches_python_mu_estimation(self, spark):
        import duckdb
        from collections import defaultdict

        cust = duckdb.sql(
            f"""SELECT c_custkey, c_nationkey, c_name,
                       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT),
                       c_mktsegment
                FROM '{SF_DIR}/customer.parquet'"""
        ).fetchall()
        by_nat = defaultdict(list)
        for k, nat, name, bal, seg in cust:
            by_nat[nat].append((k, name, bal, seg))
        stats = {f: [0, 0, 0, 0] for f in ("name", "balance", "segment")}
        # [agree_match, n_match, agree_nonmatch, n_nonmatch]
        for nat, recs in by_nat.items():
            for ak, aname, abal, aseg in recs:
                for bk, bname, bbal, bseg in recs:
                    b_name = bname.upper()
                    b_bal = bbal + (7 if bk % 4 == 0 else 0)
                    b_seg = None if bk % 5 == 0 else bseg
                    is_m = ak == bk
                    ags = {
                        "name": 1 if aname.lower() == b_name.lower() else 0,
                        "balance": 1 if abs(abal - b_bal) <= 10 else 0,
                        "segment": 1 if (b_seg is not None and aseg == b_seg) else 0,
                    }
                    for f, ag in ags.items():
                        if is_m:
                            stats[f][0] += ag
                            stats[f][1] += 1
                        else:
                            stats[f][2] += ag
                            stats[f][3] += 1
        out = {r["field"]: r for r in QUERIES["ext_fellegi_weights"](spark, SF_DIR).collect()}
        assert set(out) == set(stats)
        for f, (am, nm, an, nn) in stats.items():
            r = out[f]
            assert r["n_match_pairs"] == nm and r["n_nonmatch_pairs"] == nn
            assert r["m_ppm"] == am * 1_000_000 // nm
            assert r["u_ppm"] == an * 1_000_000 // nn
        # discriminative structure: name is a perfect discriminator
        # (m = 1, u = 0 → agreement weight is infinite, reported NULL),
        # segment is weak (dropped for 1 in 5, and non-matches agree often)
        assert out["name"]["m_ppm"] == 1_000_000  # case-insensitive: all match
        assert out["name"]["u_ppm"] == 0  # customer names are unique
        assert out["name"]["w_agree_e6"] is None  # infinite likelihood ratio
        assert out["segment"]["u_ppm"] > 100_000  # 1-in-5 chance agreement
        assert out["segment"]["w_agree_e6"] is not None
        assert out["segment"]["w_agree_e6"] < 10_000_000  # weak field
        # disagreeing on a perfect field vetoes the match
        assert out["name"]["w_disagree_e6"] == 0


class TestHazardLifetable:
    def test_matches_python_lifetable(self, spark):
        import duckdb
        from collections import defaultdict
        from datetime import timedelta

        rows = duckdb.sql(
            f"SELECT user_id, ts FROM '{SF_DIR}/events.parquet'"
        ).fetchall()
        from databricks_sales_etl_pipeline_spark.extensions.analytics import (
            HAZ_CENSOR_DAYS,
        )

        per = defaultdict(list)
        for u, ts in rows:
            per[u].append(ts)
        horizon = max(ts for _, ts in rows)
        users = []
        for u, tss in per.items():
            first, last = min(tss), max(tss)
            tenure_w = (last.date() - first.date()).days // 7
            churned = last < horizon - timedelta(days=HAZ_CENSOR_DAYS)
            users.append((tenure_w, churned))
        maxw = max(w for w, _ in users)
        out = {r["tenure_week"]: r for r in QUERIES["ext_hazard_lifetable"](spark, SF_DIR).collect()}
        for w in range(maxw + 1):
            at_risk = sum(1 for t, _ in users if t >= w)
            events = sum(1 for t, c in users if t == w and c)
            cens = sum(1 for t, c in users if t == w and not c)
            if at_risk == 0:
                assert w not in out
                continue
            r = out[w]
            assert (r["at_risk"], r["events"], r["censored"]) == (
                at_risk,
                events,
                cens,
            )
            assert r["hazard_ppm"] == events * 1_000_000 // at_risk
        # censoring exists on this fixture (users active near the horizon)
        assert any(r["censored"] > 0 for r in out.values())
