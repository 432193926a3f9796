"""Round-6 twelfth wave: scan-conversion operators (Lindley queue,
clamped inventory walk, next-fit bin packing) — each verified against an
independent brute-force SEQUENTIAL simulation, proving the window-scan
reflection forms equal the literal recurrences."""

from __future__ import annotations

import os

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.scanops import (
    INV_OPENING,
    PACK_CAP,
    Q_BASE_SVC,
    Q_DAY,
    Q_OFF_A,
    Q_OFF_B,
    Q_SVC_PER_QTY,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _lineitem_rows(spark, cols, limit_key, n_keys):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(*cols)
    rows = [r.asDict() for r in df.collect()]
    keys = sorted({r[limit_key] for r in rows})[:n_keys]
    return [r for r in rows if r[limit_key] in keys], set(keys)


class TestQueueWait:
    def test_matches_literal_lindley_recursion(self, spark):
        rows, keys = _lineitem_rows(
            spark,
            ["l_suppkey", "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"],
            "l_suppkey",
            5,
        )
        import datetime

        epoch = datetime.date(1970, 1, 1)
        sim = {}
        for k in keys:
            jobs = []
            for r in rows:
                if r["l_suppkey"] != k:
                    continue
                day = (r["l_shipdate"].date() - epoch).days
                arr = day * Q_DAY + (
                    r["l_orderkey"] * Q_OFF_A + r["l_linenumber"] * Q_OFF_B
                ) % Q_DAY
                svc = Q_BASE_SVC + int(r["l_quantity"]) * Q_SVC_PER_QTY
                jobs.append((arr, r["l_orderkey"], r["l_linenumber"], svc))
            jobs.sort()
            end = None
            waits, ends = [], []
            for arr, _, _, svc in jobs:
                start = arr if end is None else max(arr, end)
                end = start + svc
                waits.append(start - arr)
                ends.append(end)
            sim[k] = {
                "n_jobs": len(jobs),
                "busy_s": sum(j[3] for j in jobs),
                "total_wait_s": sum(waits),
                "max_wait_s": max(waits),
                "makespan_s": ends[-1] - min(j[0] for j in jobs),
            }

        out = {
            r["server_id"]: r.asDict()
            for r in QUERIES["ext_queue_wait"](spark, SF_DIR).collect()
            if r["server_id"] in keys
        }
        assert set(out) == keys
        for k in keys:
            for field, want in sim[k].items():
                assert out[k][field] == want, (k, field, out[k][field], want)
            assert (
                out[k]["utilization_ppm"]
                == sim[k]["busy_s"] * 1_000_000 // sim[k]["makespan_s"]
            )


class TestInventoryRunout:
    def test_matches_literal_clamped_walk(self, spark):
        rows, keys = _lineitem_rows(
            spark,
            [
                "l_partkey",
                "l_orderkey",
                "l_linenumber",
                "l_quantity",
                "l_returnflag",
                "l_shipdate",
            ],
            "l_partkey",
            8,
        )
        import datetime

        epoch = datetime.date(1970, 1, 1)
        sim = {}
        for k in keys:
            moves = []
            for r in rows:
                if r["l_partkey"] != k:
                    continue
                day = (r["l_shipdate"].date() - epoch).days
                q = int(r["l_quantity"])
                delta = q if r["l_returnflag"] == "R" else -q
                moves.append((day, r["l_orderkey"], r["l_linenumber"], delta))
            moves.sort()
            stock, lost, peak, stockouts = INV_OPENING, 0, 0, 0
            for _, _, _, d in moves:
                nxt = stock + d
                if nxt < 0:
                    lost += -nxt
                    nxt = 0
                if nxt == 0 and d < 0:
                    stockouts += 1
                stock = nxt
                peak = max(peak, stock)
            sim[k] = {
                "n_moves": len(moves),
                "peak_stock": peak,
                "end_stock": stock,
                "total_lost": lost,
                "n_stockout_steps": stockouts,
            }

        out = {
            r["part_id"]: r.asDict()
            for r in QUERIES["ext_inventory_runout"](spark, SF_DIR).collect()
            if r["part_id"] in keys
        }
        assert set(out) == keys
        for k in keys:
            for field, want in sim[k].items():
                assert out[k][field] == want, (k, field, out[k][field], want)


class TestPackBinsGreedy:
    def test_capacity_and_contiguity_invariants(self, spark):
        out = QUERIES["ext_pack_bins_greedy"](spark, SF_DIR).collect()
        assert out
        by_bucket = {}
        for r in out:
            by_bucket.setdefault(r["bucket"], []).append(r)
        for bucket, rows in by_bucket.items():
            rows.sort(key=lambda r: r["doc_id"])
            # replay the greedy loop
            cur, fill = 0, 0
            for r in rows:
                n = r["n_tokens"]
                if fill > 0 and fill + n > PACK_CAP:
                    cur += 1
                    fill = 0
                assert r["bin_idx"] == cur, (bucket, r)
                assert r["offset_in_bin"] == fill, (bucket, r)
                fill += n
            # capacity: bins never overflow unless a single oversize doc
            fills = {}
            for r in rows:
                fills.setdefault(r["bin_idx"], []).append(r["n_tokens"])
            for b, ns in fills.items():
                if len(ns) > 1:
                    assert sum(ns) <= PACK_CAP, (bucket, b, ns)
