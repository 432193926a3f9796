#!/usr/bin/env python
"""Layout-perturbation determinism sweep (round-8, after the
ext_queue_wait catch): a query whose output depends on partition layout
— tie-order-dependent ROWS-frame windows, float summation order,
`first()` without ordering — is a latent 100 TB bug even when every
oracle comparison is green, because tie order happens to match on the
tested layout and AQE re-plans freely on a real cluster.

Detector: run EVERY registered query under a perturbed session (small
shuffle-partition count, 1 MB scan splits, fewer cores → different hash
layouts, different scan splits, different merge orders) and write each
result's canonical hash; compare against a baseline run. Any query whose
canonical hash moves with layout is layout-dependent by construction.

Usage:
  PYTHONPATH=. python tools/determinism_sweep.py baseline out_a.json [name ...]
  PYTHONPATH=. python tools/determinism_sweep.py perturbed out_b.json [name ...]
  PYTHONPATH=. python tools/determinism_sweep.py compare out_a.json out_b.json
Optional names restrict the run to those registered queries (default: all).
Env: DS_SF_DIR (default /root/testdata/sf0.01).
Both layouts take their driver heap from ``session.driver_memory()``,
which fits a full sf0.1 sweep.

The committed ``tools/determinism_baseline_r12.json`` was written at sf0.1,
so compare a run against it with DS_SF_DIR pointing at sf0.1: at the
default sf0.01 every query reports a false difference. ``compare`` flags
names present in only one file, so cut that baseline to the same names
when the run was restricted.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import sys

import numpy as np
import pandas as pd


def _norm(v, col):
    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", repr([_norm(x, col) for x in v]))
    if not isinstance(v, (str, bytes, bytearray)) and pd.isna(v):
        return None
    if isinstance(v, decimal.Decimal):
        return ("D", str(v))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return None if math.isnan(f) else ("f", repr(f + 0.0))
    if isinstance(v, (np.bool_, bool)):
        return ("b", bool(v))
    if isinstance(v, (np.integer, int)):
        return ("i", int(v))
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return ("t", v.isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("x", bytes(v).hex())
    return ("s", v)


def _canon_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(_norm(r[c], c) for c in cols) for r in pdf.to_dict("records")),
        key=repr,
    )
    return hashlib.md5(repr((cols, rows)).encode()).hexdigest()


def run(mode: str, out_path: str, names: list[str] | None = None) -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as mod
    from databricks_sales_etl_pipeline_spark.session import driver_memory

    if mode == "baseline":
        b = (
            SparkSession.builder.master("local[16]")
            .appName("ds-baseline")
        )
    else:  # perturbed: different core count, hash fan-out, scan splits
        split = int(os.environ.get("DS_SPLIT_BYTES", str(1 << 20)))
        b = (
            SparkSession.builder.master("local[5]")
            .appName("ds-perturbed")
            .config("spark.sql.shuffle.partitions", "7")
            .config("spark.sql.files.maxPartitionBytes", str(split))
            .config("spark.default.parallelism", "5")
        )
    b = b.config("spark.driver.memory", driver_memory())
    spark = b.config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.environ.get("DS_SF_DIR", "/root/testdata/sf0.01")
    qs = mod.queries()
    out: dict[str, str] = {}
    for name in names or qs:
        try:
            out[name] = _canon_hash(qs[name](spark, sf).toPandas())
        except Exception as exc:  # noqa: BLE001
            out[name] = f"ERROR: {type(exc).__name__}: {exc}"[:160]
    json.dump(out, open(out_path, "w"), indent=0, sort_keys=True)
    print(f"{mode}: wrote {len(out)} hashes to {out_path}")


#: approx-by-design queries whose VALUES may legitimately move with
#: partition layout. Datasketches HLL union estimates carry a
#: merge-order epsilon (the union gadget transitions LIST/SET/HLL modes
#: differently depending on which sketch arrives first) — inherent to
#: distributed sketch merging at any scale, bounded by the accuracy
#: unit test, and the query is rows-only in the driver contract.
_APPROX_LAYOUT_OK = {"ext_hll_union"}


def compare(a_path: str, b_path: str) -> int:
    a = json.load(open(a_path))
    b = json.load(open(b_path))
    # coverage guard (round-8 ADVICE): a query present in only one run
    # (added/removed/renamed between baseline and perturbed) must FAIL
    # the sweep — a stale baseline must not masquerade as green.
    only = sorted(set(a) ^ set(b))
    if only:
        print(f"COVERAGE MISMATCH ({len(only)} names in only one run):")
        for n in only:
            side = "baseline-only" if n in a else "perturbed-only"
            print(f"  {side}: {n}")
    allowed = sorted(
        n for n in a if n in b and a[n] != b[n] and n in _APPROX_LAYOUT_OK
    )
    diffs = sorted(
        n
        for n in a
        if n in b and a[n] != b[n] and n not in _APPROX_LAYOUT_OK
    )
    for n in allowed:
        print(f"  allowed (approx sketch, merge-order epsilon): {n}")
    errs = sorted(
        n for n in a
        if str(a.get(n, "")).startswith("ERROR")
        or str(b.get(n, "")).startswith("ERROR")
    )
    print(
        f"{len(a)} queries; layout-dependent: {len(diffs)}; "
        f"errors: {len(errs)}; coverage-mismatched: {len(only)}"
    )
    for n in diffs:
        print(f"  DIFF {n}")
    for n in errs:
        print(f"  ERR  {n}: A={a.get(n)!r} B={b.get(n)!r}")
    return 1 if diffs or errs or only else 0


if __name__ == "__main__":
    if sys.argv[1] == "compare":
        sys.exit(compare(sys.argv[2], sys.argv[3]))
    run(sys.argv[1], sys.argv[2], sys.argv[3:])
