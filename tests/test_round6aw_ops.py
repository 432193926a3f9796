"""Round-6 fifty-second wave: capture-recapture, Good-Turing, Chao1."""

from __future__ import annotations

import os
from collections import Counter, defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.lm import GT_MAX_R

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _token_freqs():
    """Trigram-type frequencies (the ops smooth over the trigram space)."""
    texts = [
        t
        for (t,) in duckdb.sql(
            f"SELECT text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    ]
    c = Counter()
    for t in texts:
        toks = [w for w in t.lower().split() if w]
        for i in range(len(toks) - 2):
            c[" ".join(toks[i : i + 3])] += 1
    return c


class TestCaptureRecapture:
    def test_matches_python_estimators(self, spark):
        rows = duckdb.sql(
            f"""SELECT user_id,
                       MAX(CASE WHEN event_type='click' THEN 1 ELSE 0 END),
                       MAX(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)
                FROM '{SF_DIR}/events.parquet' GROUP BY user_id"""
        ).fetchall()
        n1 = sum(a for _, a, _ in rows)
        n2 = sum(b for _, _, b in rows)
        m = sum(a * b for _, a, b in rows)
        r = QUERIES["ext_capture_recapture"](spark, SF_DIR).collect()[0]
        assert (r["n1"], r["n2"], r["m"], r["n_observed"]) == (
            n1,
            n2,
            m,
            len(rows),
        )
        assert r["lincoln_petersen"] == (n1 * n2 // m if m else None)
        assert r["chapman"] == (n1 + 1) * (n2 + 1) // (m + 1) - 1
        # the estimate can never be below either capture alone
        assert r["chapman"] >= max(n1, n2)


class TestGoodTuring:
    def test_matches_python_fof(self, spark):
        freq = _token_freqs()
        fof = Counter(freq.values())
        n_tokens = sum(freq.values())
        vocab = len(freq)
        out = {
            r["r"]: r
            for r in QUERIES["ext_good_turing"](spark, SF_DIR).collect()
        }
        want_rs = {r for r in fof if r <= GT_MAX_R}
        assert set(out) == want_rs
        for r_val in want_rs:
            row = out[r_val]
            assert row["n_r"] == fof[r_val]
            assert row["n_r_plus_1"] == fof.get(r_val + 1, 0)
            if fof.get(r_val + 1):
                assert row["r_star_milli"] == (
                    (r_val + 1) * fof[r_val + 1] * 1000 // fof[r_val]
                )
            else:
                assert row["r_star_milli"] is None
            assert row["unseen_mass_ppm"] == fof[1] * 1_000_000 // n_tokens
            assert (row["n_tokens"], row["vocab"]) == (n_tokens, vocab)
        # Good-Turing discounts rare counts: r* < r for heavy-tailed text
        r1 = out.get(1)
        assert r1 is not None  # the trigram space HAS singletons
        assert r1["r_star_milli"] is not None
        assert r1["r_star_milli"] < 2000


class TestChao1:
    def test_matches_python_estimate(self, spark):
        freq = _token_freqs()
        fof = Counter(freq.values())
        d = len(freq)
        s1, s2 = fof.get(1, 0), fof.get(2, 0)
        chao1 = d + s1 * s1 // (2 * max(s2, 1))
        r = QUERIES["ext_chao1_richness"](spark, SF_DIR).collect()[0]
        assert (
            r["observed_vocab"],
            r["singletons"],
            r["doubletons"],
            r["chao1_estimate"],
        ) == (d, s1, s2, chao1)
        assert r["chao1_estimate"] > r["observed_vocab"]  # unseen mass exists
