"""Round-6 fiftieth wave: MLM masking, INSERT BY NAME, rolling corr."""

from __future__ import annotations

import hashlib
import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.drift import ROLL_CORR_W
from databricks_sales_etl_pipeline_spark.extensions.lm import MLM_MOD

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _mask_band(doc_id: int, pos: int) -> int:
    h = hashlib.md5(f"mlm:{doc_id}:{pos}".encode()).hexdigest()[:8]
    return int(h, 16) % MLM_MOD


class TestMlmMasking:
    def test_matches_python_generator(self, spark):
        rows = duckdb.sql(
            f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
        out = {
            r["doc_id"]: r
            for r in QUERIES["ext_mlm_masking"](spark, SF_DIR).collect()
        }
        total_masked = total_tokens = 0
        for doc_id, text in rows:
            toks = [t for t in text.lower().split() if t]
            if not toks:
                continue
            masked, targets = [], []
            for pos, tok in enumerate(toks):
                if _mask_band(doc_id, pos) == 0:
                    masked.append("<MASK>")
                    targets.append(tok)
                else:
                    masked.append(tok)
            r = out[doc_id]
            assert r["n_tokens"] == len(toks)
            assert r["n_masked"] == len(targets)
            assert r["mask_rate_ppm"] == len(targets) * 1_000_000 // len(toks)
            assert r["masked_md5"] == hashlib.md5(
                " ".join(masked).encode()
            ).hexdigest()
            assert r["targets_md5"] == hashlib.md5(
                " ".join(targets).encode()
            ).hexdigest()
            total_masked += len(targets)
            total_tokens += len(toks)
        # realized corpus mask rate is near 1/MLM_MOD
        rate = total_masked / total_tokens
        assert abs(rate - 1 / MLM_MOD) < 0.02

    def test_reproducible_across_runs(self, spark):
        a = {
            r["doc_id"]: r["masked_md5"]
            for r in QUERIES["ext_mlm_masking"](spark, SF_DIR).collect()
        }
        b = {
            r["doc_id"]: r["masked_md5"]
            for r in QUERIES["ext_mlm_masking"](spark, SF_DIR).collect()
        }
        assert a == b


class TestInsertByName:
    def test_reordered_insert_lands_by_name(self, spark):
        rows = duckdb.sql(
            f"""SELECT o_orderpriority, COUNT(*),
                       SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1"""
        ).fetchall()
        want = {p: (int(n), int(rc)) for p, n, rc in rows}
        out = {
            r["o_orderpriority"]: r
            for r in QUERIES["sql_insert_by_name"](spark, SF_DIR).collect()
        }
        assert set(out) == set(want)
        for p, (n, rc) in want.items():
            assert (out[p]["n_orders"], out[p]["rev_cents"]) == (n, rc)

    def test_idempotent_reruns(self, spark):
        a = QUERIES["sql_insert_by_name"](spark, SF_DIR).collect()
        b = QUERIES["sql_insert_by_name"](spark, SF_DIR).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestRollingCorr:
    def test_matches_python_windowed_pearson(self, spark):
        rows = duckdb.sql(
            f"""SELECT datediff('day', DATE '1970-01-01',
                                CAST(CAST(ts AS TIMESTAMP) AS DATE)),
                       SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END),
                       SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)
                FROM '{SF_DIR}/events.parquet' GROUP BY 1"""
        ).fetchall()
        daily = {int(d): (int(x), int(y)) for d, x, y in rows}
        out = {
            r["d"]: r
            for r in QUERIES["ext_rolling_corr"](spark, SF_DIR).collect()
        }
        for d in daily:
            window = [
                daily[k]
                for k in daily
                if d - ROLL_CORR_W <= k <= d
            ]
            if len(window) != ROLL_CORR_W + 1:
                assert d not in out
                continue
            n = len(window)
            sx = sum(x for x, _ in window)
            sy = sum(y for _, y in window)
            sxx = sum(x * x for x, _ in window)
            syy = sum(y * y for _, y in window)
            sxy = sum(x * y for x, y in window)
            r = out[d]
            vx = n * sxx - sx * sx
            vy = n * syy - sy * sy
            if vx > 0 and vy > 0:
                want = (n * sxy - sx * sy) / math.sqrt(vx * vy)
                assert math.isclose(r["corr_7d"], want, rel_tol=1e-12)
                assert -1.0 - 1e-12 <= r["corr_7d"] <= 1.0 + 1e-12
            else:
                assert r["corr_7d"] is None
        assert out  # complete windows exist
