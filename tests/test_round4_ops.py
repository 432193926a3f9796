"""Round-4 additions: the Lloyd-trained k-means quantizer and its consumers
(SemDeDup, topics), the BPE trainer/encoder vs a pure-Python reference, the
curriculum/analytics invariants, and the events.ts ingestion-shape
neutrality contract (the round-3 regression class)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.similarity import (
    K_CELLS,
    NPROBE,
    TOP_K,
    N_QUERIES,
)

registry.load_all()

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def test_kmeans_probe_schema_and_counts(spark):
    df = registry.QUERIES["ext_similarity_kmeans"](spark, SF_DIR)
    rows = df.collect()
    assert {r.query_id for r in rows} == set(range(N_QUERIES))
    for qid in range(N_QUERIES):
        ranks = sorted(r.rank for r in rows if r.query_id == qid)
        assert ranks == list(range(1, TOP_K + 1)), "dense unique ranks per query"
    assert all(-1.0 <= r.cos_sim <= 1.0 for r in rows)


def test_kmeans_recall_vs_brute_force(spark):
    """nprobe=2 of K=8 cells must recover most of the exact top-10 — the
    index is useless if pruning destroys recall. Threshold 0.5 is loose on
    purpose: testdata embeddings are near-uniform (hard for IVF), and the
    assertion is about the MECHANISM (probed cells contain true neighbors),
    not a benchmark number."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in registry.QUERIES["ext_similarity_topk"](spark, SF_DIR).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in registry.QUERIES["ext_similarity_kmeans"](spark, SF_DIR).collect()
    }
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"


def test_kmeans_centroids_cover_all_vectors(spark):
    """Every corpus vector lands in exactly one cell and cells are bounded
    by K — the partition-pruning invariant the 100-TB scan relies on."""
    from databricks_sales_etl_pipeline_spark.catalog import load
    from databricks_sales_etl_pipeline_spark.extensions.similarity import (
        _assign_cells,
        quantize,
        train_kmeans,
    )

    e = load(spark, SF_DIR, "embeddings")
    vecs = e.select("vec_id", quantize(F.col("embedding")).alias("v"))
    cells = _assign_cells(vecs, train_kmeans(vecs)[0])
    n_vec = vecs.count()
    assert cells.count() == n_vec, "assignment must be total and unique"
    assert cells.select("cid").distinct().count() <= K_CELLS


def test_joint_subspace_training_equals_per_slice_training(spark):
    """PQ's parity rests on this: training the PQ_SUB subspaces jointly
    gives every PQ_SUBDIM-wide slice exactly the centroids of a plain
    (n_sub=1) training on that slice alone — which is what the per-subspace
    DuckDB chains of the PQ oracles compute."""
    from databricks_sales_etl_pipeline_spark.catalog import load
    from databricks_sales_etl_pipeline_spark.extensions.pq import (
        PQ_K,
        PQ_SUB,
        PQ_SUBDIM,
    )
    from databricks_sales_etl_pipeline_spark.extensions.similarity import (
        quantize,
        train_kmeans,
    )

    from tests.conftest import SF_DIR as SMALL_SF_DIR

    e = load(spark, SMALL_SF_DIR, "embeddings")
    vecs = e.select("vec_id", quantize(F.col("embedding")).alias("v"))
    joint = train_kmeans(vecs, k=PQ_K, n_sub=PQ_SUB)
    per_slice = [
        train_kmeans(
            vecs.select(
                "vec_id", F.slice("v", si * PQ_SUBDIM + 1, PQ_SUBDIM).alias("v")
            ),
            k=PQ_K,
        )[0]
        for si in range(PQ_SUB)
    ]
    assert len(joint) == PQ_SUB
    assert joint == per_slice


# --- events.ts on-disk shape neutrality (round-3 regression class) ----------
#
# The driver has regenerated /root/testdata with a DIFFERENT physical type
# for events.ts across rounds (TIMESTAMP(NANOS) → naive timestamp[us]).
# catalog.normalize_events_ts must make every consumer blind to that: this
# fixture writes the SAME event rows in all three shapes and asserts
# identical query output.

_TS_QUERIES = [
    "stream_sessionize",
    "stream_session_window",
    "topk_recent_days",
    "ext_gapfill_locf",
    "ext_scd2_intervals",
    "stream_tumbling_counts",
]


@pytest.fixture(scope="module")
def ts_shape_dirs(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pa.parquet.read_table(f"{SF_DIR}/events.parquet")
    shapes = {
        "ns": pa.timestamp("ns"),          # legacy: bigint under nanosAsLong
        "us_ntz": pa.timestamp("us"),      # current driver testdata (NTZ)
        "us_utc": pa.timestamp("us", tz="UTC"),  # adjusted-to-UTC (LTZ)
    }
    dirs = {}
    for name, typ in shapes.items():
        d = tmp_path_factory.mktemp(f"tsshape_{name}")
        idx = src.schema.get_field_index("ts")
        cast = src.set_column(idx, pa.field("ts", typ), src.column("ts").cast(typ))
        pq.write_table(cast, str(d / "events.parquet"))
        for table in os.listdir(SF_DIR):
            if table != "events.parquet" and table.endswith(".parquet"):
                os.symlink(f"{SF_DIR}/{table}", str(d / table))
        dirs[name] = str(d)
    return dirs


@pytest.mark.parametrize("query_name", _TS_QUERIES)
def test_ts_shape_neutrality(spark, ts_shape_dirs, query_name):
    results = {}
    for shape, d in ts_shape_dirs.items():
        df = registry.QUERIES[query_name](spark, d)
        results[shape] = sorted(map(tuple, df.collect()))
    assert results["ns"] == results["us_ntz"] == results["us_utc"], (
        f"{query_name} output differs across on-disk ts shapes"
    )
    canonical = sorted(
        map(tuple, registry.QUERIES[query_name](spark, SF_DIR).collect())
    )
    assert results["us_ntz"] == canonical


def test_events_readstream_ts_is_ltz_for_all_shapes(spark, ts_shape_dirs):
    """The readStream path must detect the on-disk schema and normalize —
    this is the exact site of the round-3 1970-epoch silent corruption."""
    from databricks_sales_etl_pipeline_spark.catalog import events_readstream

    for shape, d in ts_shape_dirs.items():
        stream = events_readstream(spark, d)
        assert dict(stream.dtypes)["ts"] == "timestamp", shape


def test_parquet_schema_equals_spark_inference(spark, ts_shape_dirs):
    """The driver-side footer schema is the schema Spark's inference job
    gives, for every table and for each events.ts on-disk shape."""
    from databricks_sales_etl_pipeline_spark.catalog import TABLES, parquet_schema

    paths = [f"{d}/events.parquet" for d in ts_shape_dirs.values()]
    paths += [f"{SF_DIR}/{t}.parquet" for t in TABLES]
    for p in paths:
        assert parquet_schema(spark, p) == spark.read.parquet(p).schema, p


def test_load_launches_no_job(spark, monkeypatch):
    """catalog.load over every table, memo cold, runs no Spark job."""
    from databricks_sales_etl_pipeline_spark import catalog

    monkeypatch.setattr(catalog, "_footer_schemas", {})
    sc = spark.sparkContext
    group = "test_load_launches_no_job"
    sc.setJobGroup(group, group)
    try:
        for t in catalog.TABLES:
            catalog.load(spark, SF_DIR, t)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_parquet_schema_sees_a_rewritten_file(spark, tmp_path):
    """The memo is keyed on the file version: rewriting the same path with
    another ts type returns the new schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from databricks_sales_etl_pipeline_spark.catalog import (
        ensure_runtime_conf,
        parquet_schema,
    )

    ensure_runtime_conf(spark)
    p = str(tmp_path / "events.parquet")
    seen = {}
    for unit in ["us", "ns"]:
        ts = pa.array([0, 1_000_000], pa.int64()).cast(pa.timestamp(unit))
        pq.write_table(pa.table({"ts": ts}), p)
        seen[unit] = parquet_schema(spark, p)["ts"].dataType.simpleString()
    assert seen == {"us": "timestamp_ntz", "ns": "bigint"}


# --- BPE trainer vs pure-Python reference -----------------------------------


def _python_bpe(texts, n_merges):
    """Independent reference: Sennrich-style BPE with (count DESC, pair ASC)
    tiebreak, left-to-right non-overlapping merge application."""
    from collections import Counter

    freqs = Counter()
    for t in texts:
        for w in t.lower().split():
            freqs[w] += 1
    vocab = {tuple(list(w) + ["</w>"]): n for w, n in freqs.items()}
    merges = []
    for step in range(1, n_merges + 1):
        pairs = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, a + b, n))
        new_vocab = {}
        for syms, cnt in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + cnt
        vocab = new_vocab
    return merges


def test_bpe_train_matches_python_reference(spark):
    import pyarrow.parquet as pq

    texts = pq.read_table(f"{SF_DIR}/documents.parquet").column("text").to_pylist()
    expected = _python_bpe(texts, 5)
    got = [
        (r.step, r.left, r.right, r.merged, r.pair_count)
        for r in registry.QUERIES["ext_bpe_train"](spark, SF_DIR)
        .orderBy("step")
        .collect()
    ]
    assert got == expected


# --- invariants for the curriculum / analytics ops --------------------------


def test_mix_epochs_budget_invariants(spark):
    """Per source: every doc gets >= full_epochs repeats; total planned
    tokens covers the budget and overshoots by at most one doc's tokens."""
    from databricks_sales_etl_pipeline_spark.extensions.curriculum import (
        TARGET_TOKENS,
    )

    rows = registry.QUERIES["ext_mix_epochs"](spark, SF_DIR).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for source, docs in by_source.items():
        src_tokens = sum(d.n_tokens for d in docs)
        full = TARGET_TOKENS // src_tokens
        assert all(d.n_repeats in (full, full + 1) for d in docs), source
        planned = sum(d.n_repeats * d.n_tokens for d in docs)
        if TARGET_TOKENS % src_tokens:
            assert planned >= TARGET_TOKENS - max(d.n_tokens for d in docs), source
            assert planned <= TARGET_TOKENS + max(d.n_tokens for d in docs), source


def test_event_funnel_is_monotone(spark):
    rows = {
        r.stage_name: r.n_users
        for r in registry.QUERIES["ext_event_funnel"](spark, SF_DIR).collect()
    }
    assert rows["signup"] >= rows["view"] >= rows["purchase"] > 0


def test_retention_cohort_week0_equals_cohort_size(spark):
    """Every user is active in their own first week, so week_k=0 rows must
    count the full cohort."""
    from databricks_sales_etl_pipeline_spark.catalog import load

    rows = registry.QUERIES["ext_retention_cohorts"](spark, SF_DIR).collect()
    week0 = {r.cohort_week: r.n_active for r in rows if r.week_k == 0}
    e = load(spark, SF_DIR, "events")
    cohorts = (
        e.groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
        .groupBy("cohort_week")
        .count()
        .collect()
    )
    assert week0 == {r.cohort_week: r["count"] for r in cohorts}


def test_semdedup_keeps_smallest_id_per_group(spark):
    """Within every cell the smallest vec_id must survive (it has no
    smaller cell-mate to prune it)."""
    rows = registry.QUERIES["ext_semdedup"](spark, SF_DIR).collect()
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r.cid, []).append(r)
    for cid, members in by_cell.items():
        smallest = min(members, key=lambda r: r.vec_id)
        assert smallest.is_kept, f"cell {cid}: smallest id pruned"


def test_bpe_encode_matches_python_reference(spark):
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF_DIR}/documents.parquet")
    texts = tbl.column("text").to_pylist()
    doc_ids = tbl.column("doc_id").to_pylist()
    merges = _python_bpe(texts, 5)

    def encode(word):
        syms = list(word) + ["</w>"]
        for _, a, b, _, _ in merges:
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms = out
        return len(syms)

    expected = {}
    for did, t in zip(doc_ids, texts):
        words = t.lower().split()
        if words:
            expected[did] = sum(encode(w) for w in words)
    got = {
        r.doc_id: r.n_bpe_tokens
        for r in registry.QUERIES["ext_bpe_encode"](spark, SF_DIR).collect()
    }
    assert got == expected


def test_change_feed_reconstructs_new_version(spark):
    """Applying the CDF to the old snapshot must reproduce the new one:
    drop deleted/updated keys, add inserted/updated post-images."""
    from databricks_sales_etl_pipeline_spark.catalog import load
    from databricks_sales_etl_pipeline_spark.plans.versioned import change_feed

    old = load(spark, SF_DIR, "nation")
    new = (
        old.where(F.col("n_nationkey") % 3 != 0)
        .withColumn(
            "n_name",
            F.when(
                F.col("n_nationkey") % 3 == 1, F.upper("n_name")
            ).otherwise(F.col("n_name")),
        )
        .unionAll(
            old.where(F.col("n_nationkey") < 2).select(
                (F.col("n_nationkey") + 500).alias("n_nationkey"),
                "n_name",
                "n_regionkey",
            )
        )
    )
    feed = change_feed(old, new, ["n_nationkey"]).collect()
    touched = {r.n_nationkey for r in feed}
    rebuilt = sorted(
        [tuple(r) for r in old.collect() if r.n_nationkey not in touched]
        + [
            (r.n_nationkey, r.n_name, r.n_regionkey)
            for r in feed
            if r.change_type in ("insert", "update")
        ]
    )
    assert rebuilt == sorted(map(tuple, new.collect()))


def test_sample_weighted_rates_track_weights(spark):
    """Acceptance frequency must track the length weight: long docs
    (weight ~1) accepted at a much higher rate than the overall corpus
    average, matching a binomial expectation loosely."""
    from databricks_sales_etl_pipeline_spark.catalog import load

    d = load(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    sampled = {
        r.doc_id
        for r in registry.QUERIES["ext_sample_weighted"](spark, SF_DIR).collect()
    }
    rows = d.collect()
    heavy = [r for r in rows if r.n_chars >= 500]
    light = [r for r in rows if r.n_chars < 250]
    rate_heavy = sum(1 for r in heavy if r.doc_id in sampled) / max(len(heavy), 1)
    rate_light = sum(1 for r in light if r.doc_id in sampled) / max(len(light), 1)
    assert rate_heavy == 1.0, "weight-1 docs must always be accepted"
    assert rate_light < 0.6, "sub-half-weight docs must be thinned"


def test_embedding_project_bounded_distortion(spark):
    """The JL sketch must preserve distances up to bounded distortion —
    generous bounds (k=16 on near-uniform data is coarse); this guards
    against scale/sign/indexing errors in the projection, not tight ε."""
    import numpy as np

    rows = registry.QUERIES["ext_embedding_project"](spark, SF_DIR).collect()
    sk: dict[int, dict[int, int]] = {}
    for r in rows:
        sk.setdefault(r.vec_id, {})[r.dim] = r.value
    assert all(len(d) == 16 for d in sk.values())
    from databricks_sales_etl_pipeline_spark.catalog import load
    from databricks_sales_etl_pipeline_spark.extensions.similarity import quantize

    vec_rows = (
        load(spark, SF_DIR, "embeddings")
        .select("vec_id", quantize(F.col("embedding")).alias("v"))
        .collect()
    )
    V = {r.vec_id: np.array(r.v, dtype=np.float64) for r in vec_rows}
    S = {k: np.array([d[j] for j in range(16)], dtype=np.float64) for k, d in sk.items()}
    ids = sorted(V)[:60]
    ratios = []
    for a_i in range(0, len(ids), 3):
        for b_i in range(a_i + 1, len(ids), 7):
            a, b = ids[a_i], ids[b_i]
            de = ((V[a] - V[b]) ** 2).sum()
            dp = ((S[a] - S[b]) ** 2).sum()
            if de > 0:
                ratios.append(dp / de)
    med = float(np.median(ratios))
    assert med > 0
    assert all(0.01 * med <= r <= 100 * med for r in ratios), "unbounded distortion"
