"""Round-6 eighth-wave additions: audit hash chain, GDPR erasure, MRR,
ORDER BY ALL."""

from __future__ import annotations

import hashlib
import os

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestHashChain:
    def test_chain_links_and_tamper_evidence(self, spark):
        rows = sorted(
            QUERIES["ext_audit_hash_chain"](spark, SF_DIR).collect(),
            key=lambda r: r["m"],
        )
        assert len(rows) >= 70  # ~80 months of data
        months = [r["m"] for r in rows]
        assert months == list(range(months[0], months[-1] + 1))
        # recompute the chain in python — every link must verify
        chain = hashlib.md5(f"genesis:{rows[0]['digest']}".encode()).hexdigest()
        assert rows[0]["chain_hash"] == chain
        for r in rows[1:]:
            chain = hashlib.md5(f"{chain}:{r['digest']}".encode()).hexdigest()
            assert r["chain_hash"] == chain
        # tamper evidence: flipping one digest breaks every later link
        bad = hashlib.md5(f"genesis:{rows[0]['digest']}x".encode()).hexdigest()
        assert bad != rows[0]["chain_hash"]


class TestGdprErasure:
    def test_erasure_accounting(self, spark):
        out = {r["tbl"]: r for r in QUERIES["ext_gdpr_erasure"](spark, SF_DIR).collect()}
        assert set(out) == {"events", "orders"}
        for r in out.values():
            assert r["residual_rows"] == 0, "proof of absence"
            assert r["rows_after"] < r["rows_before"], "~5% of subjects erased"
            assert r["subjects_erased"] > 0


class TestMrr:
    def test_consistent_with_topk(self, spark):
        mrr = {r["query_id"]: r for r in QUERIES["ext_eval_mrr"](spark, SF_DIR).collect()}
        assert len(mrr) == 5
        for r in mrr.values():
            if r["first_rel_rank"] is not None:
                assert r["reciprocal_rank"] == 1.0 / r["first_rel_rank"]
                assert r["first_rel_rank"] >= 1


class TestOrderByAll:
    def test_limit_is_leftmost_sorted(self, spark):
        out = QUERIES["sql_order_by_all"](spark, SF_DIR).collect()
        assert len(out) == 8
        keys = [(r["o_orderpriority"], r["o_orderstatus"]) for r in out]
        assert keys == sorted(keys)
