"""Round-6 seventeenth wave: distributed-systems primitives — DP
geometric counts, rendezvous hashing, Merkle partition tree."""

from __future__ import annotations

import hashlib
import os

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.distsys import (
    _DP_GRID,
    _DP_KMAX,
    _DP_KMIN,
    _LOST_NODE,
    N_RDV_NODES,
    _dp_thresholds,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _md5_band(salt: str, s: str, mod: int) -> int:
    return int(hashlib.md5((salt + s).encode()).hexdigest()[:8], 16) % mod


class TestDpGeometric:
    def test_threshold_ladder_is_valid_cdf(self):
        ts = _dp_thresholds()
        ks = [k for k, _ in ts]
        assert ks == list(range(_DP_KMIN, _DP_KMAX))
        vals = [t for _, t in ts]
        assert vals == sorted(vals)
        assert 0 < vals[0] and vals[-1] < _DP_GRID
        # cum(0) = 2/3 exactly on the dyadic grid
        t0 = dict(ts)[0]
        assert t0 == 2 * _DP_GRID // 3

    def test_noise_matches_python_inverse_cdf(self, spark):
        out = {r["n_name"]: r for r in QUERIES["ext_dp_geometric"](spark, SF_DIR).collect()}
        assert out
        ts = _dp_thresholds()
        for name, r in out.items():
            u = _md5_band("dpgeo:", name, _DP_GRID)
            noise = _DP_KMAX
            for k, t in ts:
                if u < t:
                    noise = k
                    break
            assert r["noise"] == noise
            assert r["noisy_n"] == max(0, r["true_n"] + noise)
            assert _DP_KMIN <= r["noise"] <= _DP_KMAX


class TestRendezvousHash:
    def test_only_lost_nodes_keys_move(self, spark):
        rows = QUERIES["ext_rendezvous_hash"](spark, SF_DIR).collect()
        total = sum(r["n_keys"] for r in rows)
        moved = sum(r["n_keys"] for r in rows if r["owner"] != r["owner_after_loss"])
        for r in rows:
            assert 0 <= r["owner"] < N_RDV_NODES
            assert r["owner_after_loss"] != _LOST_NODE
            if r["owner"] != r["owner_after_loss"]:
                # the HRW contract: ONLY the lost node's keys relocate
                assert r["owner"] == _LOST_NODE
        # the lost node owned ≈ 1/N of keys; allow a wide band
        assert total // (N_RDV_NODES * 3) < moved < total // 2


class TestMerklePartitionTree:
    def test_tree_structure_and_bisection(self, spark):
        rows = QUERIES["ext_merkle_partition_tree"](spark, SF_DIR).collect()
        by_level = {}
        for r in rows:
            by_level.setdefault(r["level"], []).append(r)
        assert set(by_level) == {0, 1, 2}
        assert len(by_level[2]) == 1
        root = by_level[2][0]
        assert root["node_key"] == "root"
        assert root["n_children"] == len(by_level[1])
        # leaf children counts sum to the table cardinality
        n_rows = sum(r["n_children"] for r in by_level[0])
        assert n_rows == spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
        # year digests derive from sorted leaf digests (recompute one)
        import collections

        leaves_by_year = collections.defaultdict(list)
        for r in by_level[0]:
            leaves_by_year[int(r["node_key"][3:]) // 100].append(r["digest"])
        for yr in by_level[1]:
            y = int(yr["node_key"][2:])
            want = hashlib.md5(
                "".join(sorted(leaves_by_year[y])).encode()
            ).hexdigest()
            assert yr["digest"] == want
            assert yr["n_children"] == len(leaves_by_year[y])
        # root derives from sorted year digests
        want_root = hashlib.md5(
            "".join(sorted(r["digest"] for r in by_level[1])).encode()
        ).hexdigest()
        assert root["digest"] == want_root
