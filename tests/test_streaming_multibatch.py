"""Multi-micro-batch streaming evidence (round-8 verdict ask #4).

Every stream_* oracle equivalence previously rode the single-batch
AvailableNow identity. These tests drive the three stateful shapes the
verdict named — watermarked tumbling agg, left-outer stream-stream join,
streaming dedup — through REAL multi-batch execution: the events fixture
split into 4 time-contiguous part files, `maxFilesPerTrigger=1` (via the
`DSEP_STREAM_MAX_FILES_PER_TRIGGER` seam in catalog.events_readstream),
and assert the final result still equals the batch twin, state-eviction
cuts included. Batch counts are pinned >1 from the checkpoint's offsets
log.

Measured semantics the sims encode (probed, Spark 4.1):
- the event-time watermark used by batch N is computed from batches < N
  and may lag a further batch behind (no-data batches interleave and can
  advance it), so eviction-time sims must bound BOTH timings;
- dropDuplicatesWithinWatermark extends a key's state on (at least some)
  dropped duplicates, so the dedup sim bounds no-extend vs extend-on-
  every-arrival;
- which physical row of a batch creates a key's state is partition-order
  nondeterministic, so expiry bounds use the batch's min/max ts.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.registry import QUERIES, load_all
from databricks_sales_etl_pipeline_spark.streaming.tumbling import (
    tumbling_counts,
)
from tests.conftest import SF_DIR

load_all()

N_FILES = 4


def _write_files(ev_dir: str, tables: list[pa.Table]) -> None:
    os.makedirs(ev_dir)
    now = time.time()
    for i, tbl in enumerate(tables):
        p = os.path.join(ev_dir, f"part-{i:02d}.parquet")
        pq.write_table(tbl, p)
        # FileStreamSource picks oldest-mtime first; 60 s apart is far
        # beyond any fs timestamp granularity
        os.utime(p, (now - 600 + i * 60, now - 600 + i * 60))


@pytest.fixture(scope="module")
def multi_sf(tmp_path_factory):
    """An sf-dir whose events.parquet is a DIRECTORY of 4 time-contiguous
    part files (sorted split of the fixture) — with maxFilesPerTrigger=1
    each file is one micro-batch and the watermark only ever moves
    forward, so no row is ever late (stream == batch must hold)."""
    root = tmp_path_factory.mktemp("multibatch_sf")
    tbl = pq.read_table(f"{SF_DIR}/events.parquet").sort_by("ts")
    n = tbl.num_rows
    cuts = [round(i * n / N_FILES) for i in range(N_FILES + 1)]
    slices = [tbl.slice(cuts[i], cuts[i + 1] - cuts[i]) for i in range(N_FILES)]
    _write_files(str(root / "events.parquet"), slices)
    return str(root)


def _batch_max_ts(spark, multi_sf):
    """Per-micro-batch max event ts (batch i = file i), session-normalized."""
    e = load(spark, multi_sf, "events").withColumn(
        "f", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    rows = e.groupBy("f").agg(F.max("ts").alias("m")).collect()
    return [r["m"] for r in sorted(rows, key=lambda r: r["f"])]


def _n_batches(tag: str) -> int:
    # the query's checkpoint is io.scratch_dir(tag), PID-keyed; in local
    # mode the driver pid IS the test process pid
    import tempfile

    ckpt = os.path.join(tempfile.gettempdir(), f"dsep_{os.getpid()}_{tag}")
    return len(os.listdir(os.path.join(ckpt, "offsets")))


def test_multibatch_watermark_agg_matches_batch_twin(spark, multi_sf, monkeypatch):
    monkeypatch.setenv("DSEP_STREAM_MAX_FILES_PER_TRIGGER", "1")
    out = QUERIES["stream_watermark_agg"](spark, multi_sf).collect()
    assert _n_batches("wm") > N_FILES - 1, "did not run multi-batch"
    # update mode re-emits a window on every change; counts are strictly
    # monotone per key, so the max-n_events row is the final state
    final: dict[tuple, tuple] = {}
    for r in out:
        k = (r["hour_start"], r["event_type"])
        if k not in final or r["n_events"] > final[k][0]:
            final[k] = (r["n_events"], r["value_cents"])
    batch = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in tumbling_counts(load(spark, multi_sf, "events")).collect()
    }
    assert final == batch


def test_multibatch_left_outer_join_matches_eviction_cut(
    spark, multi_sf, monkeypatch
):
    monkeypatch.setenv("DSEP_STREAM_MAX_FILES_PER_TRIGGER", "1")
    got = sorted(
        (r["purchase_id"], r["user_id"], r["purchase_ts"], r["signup_ts"])
        for r in QUERIES["stream_left_outer_join"](spark, multi_sf).collect()
    )
    assert _n_batches("sloj") > N_FILES - 1, "did not run multi-batch"
    # batch twin with the final-watermark eviction cut (round-7 lesson):
    # unmatched purchases newer than min(max p_ts, max s_ts) - 1h stay in
    # state and are never emitted by a finite run
    e = load(spark, multi_sf, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    s = e.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user_id"), F.col("ts").alias("signup_ts")
    )
    maxes = e.groupBy().agg(
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
        F.max(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s"),
    ).collect()[0]
    wm = min(maxes["p"], maxes["s"]) - dt.timedelta(hours=1)
    joined = p.join(
        s,
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("signup_ts") <= F.col("purchase_ts"))
        & (F.col("signup_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 7 DAYS")),
        "left_outer",
    )
    expected = sorted(
        (r["purchase_id"], r["user_id"], r["purchase_ts"], r["signup_ts"])
        for r in joined.where(
            F.col("signup_ts").isNotNull() | (F.col("purchase_ts") < F.lit(wm))
        ).collect()
    )
    assert got == expected


def _dedup_emission_bounds(events, batch_max, delay):
    """Per-key [min, max] emission counts over the probed semantic bounds:
    {no-extend, extend-on-every-arrival} x {freshest wm = max ts of
    batches < b, most-lagged wm = max ts of batches < b-1} x creation row
    {min ts, max ts} of the creating batch."""
    eps = dt.timedelta(0)

    def sim(key_evts, fresh_wm, extend, pick_min):
        expiry, cnt = None, 0
        by_batch: dict[int, list] = {}
        for b, ts in key_evts:
            by_batch.setdefault(b, []).append(ts)
        for b in sorted(by_batch):
            lag = 1 if fresh_wm else 2
            wm = (
                batch_max[b - lag] - delay
                if b - lag >= 0
                else dt.datetime(1970, 1, 1)
            )
            if expiry is not None and expiry < wm - eps:
                expiry = None
            tss = by_batch[b]
            if expiry is None:
                cnt += 1
                expiry = (min(tss) if pick_min else max(tss)) + delay
            if extend:
                expiry = max(expiry, max(tss) + delay)
        return cnt

    lo, hi = {}, {}
    for key, evts in events.items():
        variants = [
            sim(evts, fw, ex, pm)
            for fw in (True, False)
            for ex in (True, False)
            for pm in (True, False)
        ]
        lo[key], hi[key] = min(variants), max(variants)
    return lo, hi


def test_multibatch_stream_dedup_bounds_and_distinct(spark, multi_sf, monkeypatch):
    monkeypatch.setenv("DSEP_STREAM_MAX_FILES_PER_TRIGGER", "1")
    out = [
        (r["user_id"], r["event_type"])
        for r in QUERIES["stream_dedup"](spark, multi_sf).collect()
    ]
    assert _n_batches("dedup") > N_FILES - 1, "did not run multi-batch"
    # invariant 1: the emitted key SET is the batch distinct — dedup may
    # re-emit an evicted key, never invent or lose one
    batch_keys = {
        (r["user_id"], r["event_type"])
        for r in load(spark, multi_sf, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert set(out) == batch_keys
    # invariant 2: per-key emission count within the semantic bounds
    e = load(spark, multi_sf, "events").withColumn(
        "f", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    files = sorted(r["f"] for r in e.select("f").distinct().collect())
    fidx = {f: i for i, f in enumerate(files)}
    per_key: dict[tuple, list] = {}
    for r in e.select("user_id", "event_type", "ts", "f").collect():
        per_key.setdefault((r["user_id"], r["event_type"]), []).append(
            (fidx[r["f"]], r["ts"])
        )
    lo, hi = _dedup_emission_bounds(
        per_key, _batch_max_ts(spark, multi_sf), dt.timedelta(minutes=10)
    )
    from collections import Counter

    counts = Counter(out)
    bad = {
        k: (lo[k], counts[k], hi[k])
        for k in per_key
        if not (lo[k] <= counts[k] <= hi[k])
    }
    assert not bad, f"emission counts outside semantic bounds: {bad}"


def test_dedup_state_eviction_reemits(spark, tmp_path, monkeypatch):
    """Deterministic re-emission: A's state must be evicted once the
    watermark (under ANY probed timing model) passes its expiry, so the
    second A arrival re-emits — the bounded-state behavior that makes
    streaming dedup viable on unbounded keys. Timeline (delay 10 min):
    A@10:00 | B@10:30 | C@11:00 | A@11:01 — the most-lagged watermark at
    batch 4 is 10:30-10min=10:20 > 10:10, and no duplicate ever extended
    A's state."""
    monkeypatch.setenv("DSEP_STREAM_MAX_FILES_PER_TRIGGER", "1")
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    rows = [(1, t(10, 0)), (2, t(10, 30)), (3, t(11, 0)), (1, t(11, 1))]
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("ts", pa.timestamp("us")),
        ]
    )
    tables = [
        pa.table(
            {
                "event_id": [i],
                "user_id": [uid],
                "event_type": ["click"],
                "value": [1.0],
                "ts": [ts],
            },
            schema=schema,
        )
        for i, (uid, ts) in enumerate(rows)
    ]
    _write_files(str(tmp_path / "events.parquet"), tables)
    out = sorted(
        (r["user_id"], r["event_type"])
        for r in QUERIES["stream_dedup"](spark, str(tmp_path)).collect()
    )
    assert out == [(1, "click"), (1, "click"), (2, "click"), (3, "click")]
    assert _n_batches("dedup") > 3
