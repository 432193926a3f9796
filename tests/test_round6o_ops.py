"""Round-6 fifteenth wave: histogram stump, ACF, secrets scan, write
planner — verified against pure-Python recomputations."""

from __future__ import annotations

import os

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.warehouse import (
    EST_ROW_BYTES,
    SMALL_PART_BYTES,
    TARGET_FILE_BYTES,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestGbmStump:
    def test_matches_bruteforce_sse_minimizer(self, spark):
        import duckdb

        hist = duckdb.sql(
            f"""SELECT CAST(l_quantity AS BIGINT) AS fv,
                       COUNT(*) AS n,
                       SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount))
                                      * 100 + 0.5) AS BIGINT)) AS s
                FROM '{SF_DIR}/lineitem.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        n_t = sum(int(r[1]) for r in hist)
        s_t = sum(int(r[2]) for r in hist)
        best, best_key = None, None
        nl = sl = 0
        for fv, n, s in hist:
            nl += int(n)
            sl += int(s)
            nr, sr = n_t - nl, s_t - sl
            if nr <= 0:
                continue
            score = sl * sl / nl + sr * sr / nr
            key = (score, -fv)
            if best_key is None or key > best_key:
                best_key, best = key, (fv, nl, nr, sl, sr)
        rows = QUERIES["ext_gbm_stump"](spark, SF_DIR).collect()
        got = [r for r in rows if r["is_best"] == 1]
        assert len(got) == 1
        g = got[0]
        assert (g["split_at"], g["n_l"], g["n_r"], g["sum_l"], g["sum_r"]) == best
        # gain of the best split is positive unless the target is constant
        assert g["gain"] >= 0
        # every candidate's stats partition the corpus
        for r in rows:
            assert r["n_l"] + r["n_r"] == n_t
            assert r["sum_l"] + r["sum_r"] == s_t


class TestAcfDaily:
    def test_matches_python_acf(self, spark):
        import duckdb

        daily = duckdb.sql(
            f"""SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS x
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        xs = [int(x) for _, x in daily]
        n, t = len(xs), sum(xs)
        e = [n * x - t for x in xs]
        den = sum(v * v for v in e)
        out = {r["lag"]: r for r in QUERIES["ext_acf_daily"](spark, SF_DIR).collect()}
        assert set(out) == set(range(1, 8))
        for k in range(1, 8):
            num = sum(e[i] * e[i + k] for i in range(n - k))
            r = out[k]
            assert r["n_pairs"] == n - k
            assert r["num"] == num and r["den"] == den
            want = (
                -((-num) * 1000 // den) if num < 0 else num * 1000 // den
            )
            assert r["acf_milli"] == want
            assert -1000 <= r["acf_milli"] <= 1000


class TestSecretsScan:
    def test_planted_secrets_all_found(self, spark):
        n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
        out = {r["doc_id"]: r for r in QUERIES["ext_secrets_scan"](spark, SF_DIR).collect()}
        expect = {i for i in range(n_docs) if i % 7 in (0, 1, 2)}
        assert set(out) == expect
        want_type = {0: "aws_access_key", 1: "github_token", 2: "hex_secret"}
        want_len = {0: 20, 1: 24, 2: 32}
        for doc_id, r in out.items():
            assert r["secret_type"] == want_type[doc_id % 7]
            assert r["match_len"] == want_len[doc_id % 7]
            # preview is redacted: 8 chars + marker, never the full secret
            assert r["redacted"].endswith("***")
            assert len(r["redacted"]) == 11


class TestWritePlanReport:
    def test_ceil_arithmetic(self, spark):
        rows = QUERIES["ext_write_plan_report"](spark, SF_DIR).collect()
        assert rows
        for r in rows:
            eb = r["n_rows"] * EST_ROW_BYTES
            nf = (eb + TARGET_FILE_BYTES - 1) // TARGET_FILE_BYTES
            assert r["est_bytes"] == eb
            assert r["n_files"] == nf >= 1
            assert r["small_partition"] == (1 if eb < SMALL_PART_BYTES else 0)
            assert r["bytes_per_file"] == eb // nf
            assert r["bytes_per_file"] <= TARGET_FILE_BYTES
