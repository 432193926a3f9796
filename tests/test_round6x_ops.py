"""Round-6 twenty-fourth wave: LSH tuning curve, KS test, compression
ratio."""

from __future__ import annotations

import os
import zlib

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.dedup import LSH_TUNE_CONFIGS

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _scurve_fixed_point(s_ppm: int, r: int, b: int) -> int:
    p = s_ppm
    for _ in range(r - 1):
        p = p * s_ppm // 1_000_000
    q = 1_000_000 - p
    k = b
    while k > 1:
        q = q * q // 1_000_000
        k //= 2
    return 1_000_000 - q


class TestLshTuningCurve:
    def test_matches_fixed_point_and_is_sigmoid(self, spark):
        rows = QUERIES["ext_lsh_tuning_curve"](spark, SF_DIR).collect()
        assert len(rows) == 21 * len(LSH_TUNE_CONFIGS)
        by_cfg = {}
        for row in rows:
            by_cfg.setdefault((row["r"], row["b"]), []).append(row)
        assert set(by_cfg) == set(LSH_TUNE_CONFIGS)
        for (r, b), pts in by_cfg.items():
            pts.sort(key=lambda x: x["s_ppm"])
            ps = [x["p_collision_ppm"] for x in pts]
            for x in pts:
                assert x["p_collision_ppm"] == _scurve_fixed_point(
                    x["s_ppm"], r, b
                )
            # monotone increasing from 0 to 1e6 (the S-curve contract)
            assert ps == sorted(ps)
            assert ps[0] == 0 and ps[-1] == 1_000_000
        # steeper signatures (larger r·b) cross 50% closer to 1: the knee
        # ordering that makes tuning meaningful
        def knee(r, b):
            pts = sorted(by_cfg[(r, b)], key=lambda x: x["s_ppm"])
            return next(
                x["s_ppm"] for x in pts if x["p_collision_ppm"] >= 500_000
            )

        assert knee(2, 4) <= knee(4, 8) <= knee(8, 16)


class TestKsTest:
    def test_matches_python_ks(self, spark):
        import duckdb

        rows = duckdb.sql(
            f"""SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
                       month(CAST(o_orderdate AS DATE)) <= 6
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        s1 = sorted(v for v, g in rows if g)
        s2 = sorted(v for v, g in rows if not g)
        n1, n2 = len(s1), len(s2)
        import bisect

        values = sorted({v for v, _ in rows})
        d_num, at_v = 0, None
        for v in values:
            c1 = bisect.bisect_right(s1, v)
            c2 = bisect.bisect_right(s2, v)
            d = abs(c1 * n2 - c2 * n1)
            if d > d_num:
                d_num, at_v = d, v
        r = QUERIES["ext_ks_test"](spark, SF_DIR).collect()[0]
        assert (r["n1"], r["n2"]) == (n1, n2)
        assert r["d_num"] == d_num
        assert r["at_value_cents"] == at_v
        assert r["ks_ppm"] == d_num * 1_000_000 // (n1 * n2)
        want_flag = (
            1
            if d_num / (n1 * n2) > 1.358 * ((n1 + n2) / (n1 * n2)) ** 0.5
            else 0
        )
        assert r["reject_h0"] == want_flag


class TestCompressionRatio:
    def test_matches_python_zlib(self, spark):
        docs = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
        }
        out = {r["doc_id"]: r for r in QUERIES["ext_compression_ratio"](spark, SF_DIR).collect()}
        assert set(out) == set(docs)
        for doc_id, text in docs.items():
            raw = len(text.encode())
            comp = len(zlib.compress(text.encode(), 6))
            r = out[doc_id]
            assert (r["raw_bytes"], r["zlib_bytes"]) == (raw, comp)
            assert r["ratio_ppm"] == comp * 1_000_000 // raw
            want = (
                "drop_repetitive"
                if r["ratio_ppm"] < 200_000
                else ("review_gibberish" if r["ratio_ppm"] > 900_000 else "keep")
            )
            assert r["verdict"] == want
        # the wordy synthetic corpus mostly keeps; only very short docs
        # trip the gibberish review (zlib header overhead dominates)
        keeps = sum(1 for r in out.values() if r["verdict"] == "keep")
        assert keeps > len(out) * 9 // 10
        for r in out.values():
            if r["verdict"] == "review_gibberish":
                assert r["raw_bytes"] < 120
