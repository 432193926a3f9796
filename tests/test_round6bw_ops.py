"""Round-6 seventy-eighth wave: split-conformal intervals, subsequence
triples."""

from __future__ import annotations

import hashlib
import os
from collections import defaultdict
from itertools import combinations

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.evalmetrics import (
    CONF_BANDS,
    CONF_CAL_LT,
    CONF_TRAIN_LT,
    _CONF_SALT,
)
from databricks_sales_etl_pipeline_spark.extensions.analytics import SEQ3_TOPN

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _band(key: str, mod: int, salt: str) -> int:
    return int(hashlib.md5((salt + key).encode()).hexdigest()[:8], 16) % mod


class TestConformalInterval:
    def _python_reference(self):
        rows = duckdb.sql(
            f"""SELECT o_orderkey, o_orderpriority,
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        split = defaultdict(list)
        for ok, grp, y in rows:
            b = _band(str(ok), CONF_BANDS, _CONF_SALT)
            part = (
                "train" if b < CONF_TRAIN_LT
                else "cal" if b < CONF_CAL_LT else "test"
            )
            split[part].append((grp, int(y)))
        mu, n_train = {}, {}
        agg = defaultdict(lambda: [0, 0])
        for grp, y in split["train"]:
            agg[grp][0] += 1
            agg[grp][1] += y
        for grp, (n, s) in agg.items():
            mu[grp], n_train[grp] = s // n, n
        res = sorted(abs(y - mu[grp]) for grp, y in split["cal"])
        n_cal = len(res)
        k_q = (9 * (n_cal + 1) + 9) // 10
        q_hat = res[k_q - 1]
        per = defaultdict(lambda: [0, 0])
        for grp, y in split["test"]:
            per[grp][0] += 1
            per[grp][1] += 1 if abs(y - mu[grp]) <= q_hat else 0
        return mu, n_train, n_cal, q_hat, per

    def test_matches_python_reference(self, spark):
        mu, n_train, n_cal, q_hat, per = self._python_reference()
        rows = QUERIES["ext_conformal_interval"](spark, SF_DIR).collect()
        assert len(rows) == len(per)
        for r in rows:
            g = r["grp"]
            assert (r["n_train"], r["mu_cents"]) == (n_train[g], mu[g])
            assert (r["n_cal"], r["q_hat"]) == (n_cal, q_hat)
            n, cov = per[g]
            assert (r["n_test"], r["covered"]) == (n, cov)
            assert r["coverage_ppm"] == cov * 10**6 // n

    def test_coverage_guarantee(self, spark):
        # split-conformal: overall coverage must sit near/above 90%
        rows = QUERIES["ext_conformal_interval"](spark, SF_DIR).collect()
        cov = sum(r["covered"] for r in rows)
        n = sum(r["n_test"] for r in rows)
        assert cov * 100 >= 85 * n  # finite-sample slack


class TestSubseqTriples:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT user_id, event_type
                FROM '{SF_DIR}/events.parquet'
                ORDER BY user_id, ts, event_id"""
        ).fetchall()
        streams = defaultdict(list)
        for uid, et in rows:
            streams[uid].append(et)
        support = defaultdict(int)
        for seq in streams.values():
            seen = set()
            for i, j, k in combinations(range(len(seq)), 3):
                seen.add((seq[i], seq[j], seq[k]))
            for t in seen:
                support[t] += 1
        expect = sorted(
            ((-s, *t) for t, s in support.items())
        )[:SEQ3_TOPN]
        got = QUERIES["ext_subseq_triples"](spark, SF_DIR).collect()
        assert [
            (-r["support"], r["t1"], r["t2"], r["t3"]) for r in got
        ] == expect

    def test_gapped_motifs_present(self, spark):
        got = QUERIES["ext_subseq_triples"](spark, SF_DIR).collect()
        assert len(got) == SEQ3_TOPN
        assert all(r["support"] > 0 for r in got)
