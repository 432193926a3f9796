"""Round-5 operator tests: ADVICE regression pins + new operators.

Each new §2.7 operator added this round gets (a) its parity entry exercised
automatically by test_parity.py and (b) a semantic unit test here on an
engineered corpus where the expected answer is computable by hand.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.registry import (
    ORACLES,
    QUERIES,
    load_all,
)

load_all()


def _mini_docs_dir(tmp_path, spark, rows):
    """Write a minimal documents.parquet testdata dir for corpus-shaped tests."""
    d = tmp_path / "sf_mini"
    d.mkdir(exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def _duck_for(sf_dir):
    conn = duckdb.connect()
    conn.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    return conn


class TestAdviceRegressions:
    def test_cluster_topics_keeps_zero_token_docs(self, spark, tmp_path):
        """Round-4 ADVICE (medium): NULL/empty/whitespace-only docs must get
        a zero vector and a topic, matching the oracle's doc_id grid."""
        rows = [
            (i, f"alpha beta gamma doc{i} " * 3, "en", "c") for i in range(8)
        ] + [(8, "", "en", "c"), (9, "   ", "en", "c"), (10, None, "en", "c")]
        sf = _mini_docs_dir(tmp_path, spark, rows)
        out = QUERIES["ext_cluster_topics"](spark, sf).toPandas()
        assert sorted(out["doc_id"]) == list(range(11))
        conn = _duck_for(sf)
        oracle = conn.execute(ORACLES["ext_cluster_topics"]).df()
        conn.close()
        s = sorted(map(tuple, out[["doc_id", "topic"]].values.tolist()))
        d = sorted(map(tuple, oracle[["doc_id", "topic"]].values.tolist()))
        assert s == d

    def test_train_kmeans_raises_without_low_ids(self, spark):
        from databricks_sales_etl_pipeline_spark.extensions.similarity import (
            train_kmeans,
        )

        vecs = spark.createDataFrame(
            [(100 + i, [i, i]) for i in range(4)], "vec_id bigint, v array<bigint>"
        )
        with pytest.raises(ValueError, match="seed"):
            train_kmeans(vecs, k=4, iters=1)

class TestSubstringDedup:
    def test_planted_verbatim_span(self, spark, tmp_path):
        """Two otherwise-distinct docs share a 20-token verbatim paragraph;
        the operator must report exactly one maximal span of 20 tokens at
        the right positions (and nothing for the unrelated doc)."""
        span = " ".join(f"boiler{i}" for i in range(20))
        rows = [
            (0, "aa bb cc " + span + " dd ee", "en", "s"),
            (1, "xx yy " + span + " zz qq rr", "en", "s"),
            (2, "totally unrelated words only here " * 5, "en", "s"),
        ]
        sf = _mini_docs_dir(tmp_path, spark, rows)
        out = QUERIES["ext_dedup_substring"](spark, sf).toPandas()
        assert len(out) == 1
        r = out.iloc[0]
        assert (r.doc_a, r.doc_b) == (0, 1)
        assert r.len_tokens == 20
        assert (r.start_a, r.start_b) == (3, 2)

    def test_hot_gram_capped(self, spark, tmp_path):
        """A 13-gram shared by MORE than MAX_GRAM_DF docs is boilerplate —
        dropped, producing no quadratic hit volume."""
        from databricks_sales_etl_pipeline_spark.extensions.dedup_substring import (
            MAX_GRAM_DF,
        )

        span = " ".join(f"hot{i}" for i in range(13))
        rows = [
            (i, f"unique{i} " + span + f" tail{i}", "en", "s")
            for i in range(MAX_GRAM_DF + 5)
        ]
        sf = _mini_docs_dir(tmp_path, spark, rows)
        out = QUERIES["ext_dedup_substring"](spark, sf).toPandas()
        assert len(out) == 0  # 37 docs share it -> above cap -> dropped


class TestGuardedMinhash:
    def test_boilerplate_corpus_bounded(self, spark, tmp_path):
        """Engineered boilerplate corpus: 60 docs whose minimum band hash
        comes from a shared header. The unguarded join would produce
        ~60²/2 candidate pairs; the guard drops the hot buckets, reports
        them, and keeps candidates bounded by cap² per bucket."""
        from databricks_sales_etl_pipeline_spark.extensions.dedup_substring import (
            HOT_BAND_CAP,
        )

        header = "shared corporate header line for every page"
        rows = [
            (i, header + f" unique body {i} content {i * 7} end", "en", "s")
            for i in range(60)
        ]
        sf = _mini_docs_dir(tmp_path, spark, rows)
        out = QUERIES["ext_dedup_minhash_guarded"](spark, sf).toPandas()
        report = out[out.kind == "hot_band"]
        pairs = out[out.kind == "pair"]
        assert len(report) > 0, "hot buckets must be reported, not silent"
        assert (report.bucket_pop > HOT_BAND_CAP).all()
        # no bucket survives with population > cap -> candidate volume from
        # any single bucket is <= cap*(cap-1)/2
        assert len(pairs) <= 8 * HOT_BAND_CAP * (HOT_BAND_CAP - 1) / 2

    def test_matches_unguarded_when_no_hot_buckets(self, spark):
        """On the real (non-boilerplate) testdata the guard is a no-op:
        pair rows == ext_dedup_minhash_verified's rows."""
        from tests.conftest import SF_DIR

        guarded = QUERIES["ext_dedup_minhash_guarded"](spark, SF_DIR).toPandas()
        base = QUERIES["ext_dedup_minhash_verified"](spark, SF_DIR).toPandas()
        g = sorted(
            map(
                tuple,
                guarded[guarded.kind == "pair"][["doc_a", "doc_b"]]
                .astype(int)
                .values.tolist(),
            )
        )
        b = sorted(map(tuple, base[["doc_a", "doc_b"]].astype(int).values.tolist()))
        assert g == b
        assert len(guarded[guarded.kind == "hot_band"]) == 0


class TestBloomDecontaminate:
    def test_no_false_negatives_and_bounded_fpr(self, spark, tmp_path):
        """Every corpus doc whose text equals a held-out doc's text MUST be
        flagged (Bloom has no false negatives); unrelated docs are flagged
        at a rate bounded by the filter geometry."""
        n = 400
        held_texts = {i: f"held document number {i} payload" for i in range(n)}
        rows = []
        for i in range(n):
            # doc_id % 10 == 3 -> held set
            rows.append((i * 10 + 3, held_texts[i], "en", "s"))
            # a true contamination copy and a clean doc
            if i < 50:
                rows.append((i * 10 + 4, held_texts[i], "en", "s"))
            rows.append((i * 10 + 5, f"clean totally different text {i}", "en", "s"))
        sf = _mini_docs_dir(tmp_path, spark, rows)
        flagged = set(
            QUERIES["ext_bloom_decontaminate"](spark, sf).toPandas()["doc_id"]
        )
        true_hits = {i * 10 + 4 for i in range(50)}
        assert true_hits <= flagged, "bloom filter produced a false negative"
        clean = {i * 10 + 5 for i in range(n)}
        fpr = len(flagged & clean) / len(clean)
        # geometry: k=5, n=400, m=4096 -> theoretical FPR ~3.7%; allow 3x
        assert fpr < 0.12, f"false positive rate {fpr:.3f} out of bounds"


class TestRound5Plans:
    def test_dpp_prunes_fact_partitions(self, spark):
        """join_dpp_prune must carry a dynamic-partition-pruning subquery on
        the fact scan — without it the partitioned fact is read in full."""
        from tests.conftest import SF_DIR

        df = QUERIES["join_dpp_prune"](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "dynamicpruning" in plan.lower(), plan[:2000]

    def test_shallow_clone_copies_no_data(self, spark, tmp_path):
        """clone_to writes only a commit log — zero data files in the clone
        directory; reads still serve the pinned source version."""
        from databricks_sales_etl_pipeline_spark.plans.versioned import (
            VersionedTable,
        )

        n = spark.range(100).withColumnRenamed("id", "k")
        src = VersionedTable(spark, str(tmp_path / "src"))
        src.write(n, mode="overwrite")
        clone = src.clone_to(str(tmp_path / "clone"))
        data_files = [
            f
            for f in (tmp_path / "clone").rglob("*")
            if f.is_file() and f.suffix == ".parquet"
        ]
        assert data_files == [], "shallow clone must not copy data files"
        # source moves on; clone still reads the pinned snapshot
        src.write(n.where("k < 10"), mode="overwrite")
        assert clone.read().count() == 100
        assert src.read().count() == 10


class TestRound5Semantics:
    def test_attribution_credits_sum_to_10000_per_user(self, spark):
        """Every user journey's position-based credits must total exactly
        10000 bp — the integer remainder allocation may not leak credit."""
        from tests.conftest import SF_DIR
        from databricks_sales_etl_pipeline_spark.catalog import load
        import pyspark.sql.functions as F

        total_bp = (
            QUERIES["ext_attribution_position"](spark, SF_DIR)
            .agg(F.sum("credit_bp"))
            .collect()[0][0]
        )
        n_users = (
            load(spark, SF_DIR, "events").select("user_id").distinct().count()
        )
        assert total_bp == 10000 * n_users

    def test_interval_overlap_matches_theta_join(self, spark):
        """The bucketed equi-join must produce exactly the rows of the
        naive theta join (the buckets are an optimization, not a filter)."""
        from tests.conftest import SF_DIR
        from databricks_sales_etl_pipeline_spark.catalog import load
        import pyspark.sql.functions as F

        got = sorted(
            map(
                tuple,
                QUERIES["join_interval_overlap"](spark, SF_DIR)
                .toPandas()
                .values.tolist(),
            )
        )
        o = load(spark, SF_DIR, "orders")
        li = load(spark, SF_DIR, "lineitem")
        a = o.where(F.col("o_orderkey") % 97 == 0).select(
            "o_orderkey",
            F.col("o_orderdate").alias("a_start"),
            F.date_add("o_orderdate", 14).alias("a_end"),
        )
        # round-7: B aggregates to one first-shipment interval per order
        # ((l_orderkey, l_linenumber) is not unique at sf0.1)
        b = (
            li.where(
                (F.col("l_orderkey") % 89 == 0) & (F.col("l_linenumber") == 1)
            )
            .groupBy("l_orderkey")
            .agg(
                F.min("l_linenumber").cast("bigint").alias("l_linenumber"),
                F.min("l_shipdate").alias("b_start"),
                F.date_add(F.min("l_shipdate"), 7).alias("b_end"),
            )
        )
        theta = a.crossJoin(b).where(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        want = sorted(
            map(
                tuple,
                theta.select(
                    "o_orderkey",
                    "l_orderkey",
                    "l_linenumber",
                    (
                        F.datediff(
                            F.least("a_end", "b_end"),
                            F.greatest("a_start", "b_start"),
                        )
                        + 1
                    ).cast("bigint").alias("overlap_days"),
                )
                .toPandas()
                .values.tolist(),
            )
        )
        assert got == want


class TestRound5BatchB:
    """Second round-5 operator batch: PQ, sketches, graph, privacy, EWMA."""

    def test_graph_triangles_on_planted_graph(self, spark, tmp_path):
        """Engineered co-purchase graph: order 1 = parts {1,2,3} (one
        triangle), order 2 = parts {3,4} (a dangling edge). Census is
        computable by hand: 4 vertices, 4 edges, 5 wedges, 1 triangle."""
        d = tmp_path / "sf_g"
        d.mkdir()
        rows = [(1, 1), (1, 2), (1, 3), (2, 3), (2, 4)]
        spark.createDataFrame(
            rows, "l_orderkey bigint, l_partkey bigint"
        ).coalesce(1).write.parquet(str(d / "lineitem.parquet"))
        out = QUERIES["ext_graph_triangles"](spark, str(d)).collect()[0]
        assert (
            out["n_vertices"],
            out["n_edges"],
            out["n_wedges"],
            out["n_triangles"],
        ) == (4, 4, 5, 1)

    def test_heavy_hitters_layout_independent(self, spark, tmp_path):
        """The pigeonhole guarantee: the final heavy-hitter set must be
        identical whether the corpus is 1 file or 8 (different partition
        layouts produce different CANDIDATE sets, never different output)."""
        rows = []
        for i in range(120):
            # 'hot' is ~1/3 of all tokens; the tail is all-distinct
            rows.append((i, "hot " + f"u{i}a u{i}b", "en", "c"))
        d1 = tmp_path / "one"
        d8 = tmp_path / "eight"
        for dd, nfiles in ((d1, 1), (d8, 8)):
            dd.mkdir()
            spark.createDataFrame(
                rows, "doc_id bigint, text string, lang string, source string"
            ).repartition(nfiles).write.parquet(str(dd / "documents.parquet"))
        r1 = sorted(
            map(tuple, QUERIES["ext_heavy_hitters"](spark, str(d1)).collect())
        )
        r8 = sorted(
            map(tuple, QUERIES["ext_heavy_hitters"](spark, str(d8)).collect())
        )
        assert r1 == r8
        assert [t for t, *_ in r1] == ["hot"]

    def test_pq_codes_bounded_and_deterministic(self, spark):
        from tests.conftest import SF_DIR
        from databricks_sales_etl_pipeline_spark.extensions.pq import PQ_K

        rows = QUERIES["ext_pq_encode"](spark, SF_DIR).collect()
        assert rows, "empty PQ output"
        for r in rows:
            for si in range(4):
                assert 0 <= r[f"code_{si}"] < PQ_K
            assert r["recon_err"] >= 0
        again = QUERIES["ext_pq_encode"](spark, SF_DIR).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    def test_k_anonymity_no_small_published_class(self, spark):
        """Every published (non-suppressed) equivalence class in the OUTPUT
        must have >= K members — the definition of k-anonymity."""
        from tests.conftest import SF_DIR
        from databricks_sales_etl_pipeline_spark.extensions.curation import (
            K_ANON,
        )

        out = QUERIES["ext_k_anonymity"](spark, SF_DIR)
        sizes = (
            out.where(F.col("anon_level") < 2)
            .groupBy("qi_geo", "qi_segment")
            .count()
            .collect()
        )
        for r in sizes:
            assert r["count"] >= K_ANON, (r["qi_geo"], r["qi_segment"])
        # reported class_size must equal the actual published class size
        rep = (
            out.where(F.col("anon_level") < 2)
            .groupBy("qi_geo", "qi_segment", "class_size")
            .count()
            .collect()
        )
        for r in rep:
            assert r["class_size"] == r["count"]

    def test_ngram_novelty_internal_consistency(self, spark):
        from tests.conftest import SF_DIR

        for r in QUERIES["ext_ngram_novelty"](spark, SF_DIR).collect():
            assert 0 <= r["n_novel"] <= r["n_bigrams"]
            assert r["novel_bp"] == r["n_novel"] * 10000 // r["n_bigrams"]

    def test_ewma_matches_pandas_recurrence(self, spark):
        """ewms_scaled must equal the truncated dyadic convolution of the
        rev_c series, recomputed independently in plain Python."""
        from tests.conftest import SF_DIR
        from databricks_sales_etl_pipeline_spark.extensions.analytics import (
            _EWMS_W,
            _EWMS_SCALE,
        )

        pdf = (
            QUERIES["ext_ewma_smooth"](spark, SF_DIR)
            .orderBy("o_orderpriority", "o_orderdate")
            .toPandas()
        )
        for _, g in pdf.groupby("o_orderpriority"):
            xs = list(g["rev_c"])
            for t, want in enumerate(g["ewms_scaled"]):
                got = sum(
                    xs[t - k] * (2 ** (_EWMS_W - 1 - k))
                    for k in range(_EWMS_W)
                    if t - k >= 0
                )
                assert got == want
                assert g["ewms"].iloc[t] == want / _EWMS_SCALE


class TestRound5BatchC:
    """Third round-5 batch: ADC search, window/SQL/setop surface, log parse."""

    def test_lateral_view_outer_preserves_empty_docs(self, spark, tmp_path):
        rows = [(0, "alpha beta", "en", "c"), (1, "", "en", "c"),
                (2, None, "en", "c"), (3, "   ", "en", "c")]
        d = _mini_docs_dir(tmp_path, spark, rows)
        out = QUERIES["sql_lateral_view_outer"](spark, d).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r["tok"])
        assert by_doc[0] == ["alpha", "beta"]
        # empty, NULL and whitespace-only docs each keep ONE NULL-token row
        for did in (1, 2, 3):
            assert by_doc[did] == [None]

    def test_window_distinct_running_final_equals_count_distinct(self, spark):
        from tests.conftest import SF_DIR
        from databricks_sales_etl_pipeline_spark.catalog import load

        out = QUERIES["window_distinct_running"](spark, SF_DIR)
        final = out.groupBy("o_custkey").agg(
            F.max("distinct_priorities_so_far").alias("got")
        )
        want = (
            load(spark, SF_DIR, "orders")
            .groupBy("o_custkey")
            .agg(F.countDistinct("o_orderpriority").alias("want"))
        )
        diff = final.join(want, "o_custkey").where(
            F.col("got") != F.col("want")
        )
        assert diff.count() == 0

    def test_union_by_name_null_fill(self, spark):
        from tests.conftest import SF_DIR

        out = QUERIES["setop_union_by_name"](spark, SF_DIR)
        assert set(out.columns) == {
            "o_orderkey", "src", "total_cents", "o_orderpriority"
        }
        assert out.where(
            (F.col("src") == "recent") & F.col("o_orderpriority").isNotNull()
        ).count() == 0
        assert out.where(
            (F.col("src") == "urgent") & F.col("total_cents").isNotNull()
        ).count() == 0

    def test_log_parse_recovers_every_field(self, spark):
        from tests.conftest import SF_DIR

        out = QUERIES["ext_log_parse"](spark, SF_DIR)
        bad = out.where(
            (~F.col("status_code").isin(200, 404))
            | (F.col("ip") == "")
            | (~F.col("method").isin("GET", "POST"))
            | (~F.col("path").rlike("^/[a-z]+$"))
            | F.col("n_bytes").isNull()
        )
        assert bad.count() == 0

    def test_pq_search_monotone_ranks(self, spark):
        """Per query: ranks are 1..k, distances non-decreasing with rank,
        and the query itself never appears as its own neighbor."""
        from tests.conftest import SF_DIR
        from databricks_sales_etl_pipeline_spark.extensions.pq import PQ_TOPK

        rows = QUERIES["ext_pq_search"](spark, SF_DIR).collect()
        per_q = {}
        for r in rows:
            assert r["neighbor_id"] != r["query_id"]
            per_q.setdefault(r["query_id"], []).append(
                (r["rank"], r["adc_dist"])
            )
        for q, rs in per_q.items():
            rs.sort()
            assert [r for r, _ in rs] == list(range(1, PQ_TOPK + 1))
            dists = [d for _, d in rs]
            assert dists == sorted(dists)


class TestQuantileSketch:
    def test_approx_percentile_within_rank_error(self, spark):
        """GK accuracy=10000 → rank error <= n/10000 (< 1 rank at fixture
        scale, so approx must land within one exact neighbor rank)."""
        from tests.conftest import SF_DIR
        from databricks_sales_etl_pipeline_spark.catalog import load

        out = {
            r["o_orderpriority"]: r
            for r in QUERIES["ext_quantile_approx"](spark, SF_DIR).collect()
        }
        o = load(spark, SF_DIR, "orders")
        cents = F.floor(
            F.col("o_totalprice").cast("double") * 100 + 0.5
        ).cast("long")
        for prio, r in out.items():
            vals = sorted(
                x["c"]
                for x in o.where(F.col("o_orderpriority") == prio)
                .select(cents.alias("c"))
                .collect()
            )
            n = len(vals)
            assert r["n"] == n
            for q, col in ((0.5, "p50_approx"), (0.99, "p99_approx")):
                target = q * (n - 1)
                slack = max(n // 10000, 1) + 1
                lo = vals[max(int(target) - slack, 0)]
                hi = vals[min(int(target) + slack, n - 1)]
                assert lo <= r[col] <= hi, (prio, q, r[col], lo, hi)


class TestImagePhash:
    @staticmethod
    def _ref_bands(doc_id):
        """Pure-Python reference aHash from the generator arithmetic."""
        from databricks_sales_etl_pipeline_spark.extensions.multimodal import (
            _PHASH_CLUSTER,
        )

        px = [
            ((doc_id % _PHASH_CLUSTER) * 37 + i * 11) % 200
            + (doc_id * 7 + i) % 2
            for i in range(64)
        ]
        s = sum(px)
        bits = [1 if p * 64 > s else 0 for p in px]
        return [
            sum(bits[16 * j + k] << k for k in range(16)) for j in range(4)
        ]

    def test_phash_pairs_match_reference(self, spark):
        """Every emitted pair's Hamming distance must equal the pure-Python
        recomputation from the generator arithmetic, banded recall must
        hold (any reference pair with <= 3 flipped bits shares a band and
        MUST be emitted), and the planted clusters must produce pairs.
        Note aHash is brightness-shift invariant, so near-identical-offset
        BASES legitimately collide too — the reference, not cluster
        membership, is the ground truth."""
        from tests.conftest import SF_DIR

        rows = QUERIES["mm_image_phash"](spark, SF_DIR).collect()
        assert rows, "no near-dup pairs found in the planted corpus"
        doc_max = max(max(r["doc_a"], r["doc_b"]) for r in rows)
        sigs = {d: self._ref_bands(d) for d in range(doc_max + 1)}

        def ham(x, y):
            return sum(bin(a ^ b).count("1") for a, b in zip(x, y))

        got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
        for (a, b), h in got.items():
            assert h == ham(sigs[a], sigs[b]), (a, b)
        # recall guarantee: <= 3 flips always leaves one clean band
        for a in range(doc_max):
            for b in range(a + 1, min(a + 120, doc_max + 1)):
                h = ham(sigs[a], sigs[b])
                if h <= 3:
                    assert (a, b) in got, (a, b, h)


class TestCrawlAndGraph:
    def test_url_canonicalize_groups_are_consistent(self, spark):
        """Exactly one keeper per canonical group; group_size equals the
        actual member count."""
        from tests.conftest import SF_DIR

        rows = QUERIES["ext_url_canonicalize"](spark, SF_DIR).collect()
        groups = {}
        for r in rows:
            groups.setdefault(r["canon_url"], []).append(r)
        for url, members in groups.items():
            assert sum(1 for m in members if m["is_keeper"]) == 1, url
            assert all(m["group_size"] == len(members) for m in members)
        assert any(len(m) > 1 for m in groups.values()), "no planted dups"

    def test_bfs_distances_are_valid(self, spark):
        """dist 0 exactly once (the source); every dist-k vertex (k>0) has
        a neighbor at dist k-1 (triangle inequality on the edge list)."""
        from tests.conftest import SF_DIR
        from databricks_sales_etl_pipeline_spark.catalog import load
        from databricks_sales_etl_pipeline_spark.extensions.graph import (
            _BFS_ORDER_MOD,
        )

        dist = {
            r["v"]: r["dist"]
            for r in QUERIES["ext_graph_bfs"](spark, SF_DIR).collect()
        }
        assert sum(1 for d in dist.values() if d == 0) == 1
        li = load(spark, SF_DIR, "lineitem")
        pairs = (
            li.where(F.col("l_orderkey") % _BFS_ORDER_MOD == 0)
            .alias("x")
            .join(
                li.where(F.col("l_orderkey") % _BFS_ORDER_MOD == 0).alias("y"),
                F.expr(
                    "x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey"
                ),
            )
            .selectExpr("x.l_partkey AS a", "y.l_partkey AS b")
            .distinct()
            .collect()
        )
        adj = {}
        for r in pairs:
            adj.setdefault(r["a"], set()).add(r["b"])
            adj.setdefault(r["b"], set()).add(r["a"])
        for v, d in dist.items():
            if d > 0:
                assert any(dist.get(n) == d - 1 for n in adj[v]), (v, d)


class TestSubstringCut:
    def test_cut_removes_planted_span(self, spark, tmp_path):
        """Two docs share a verbatim 20-token paragraph; the later doc must
        lose exactly that span and the earlier doc stays untouched."""
        span = " ".join(f"boiler{i}" for i in range(20))
        rows = [
            (0, f"alpha beta {span} gamma delta", "en", "c"),
            (1, f"one two three {span} four five six", "en", "c"),
            (2, "totally unrelated text with many words here", "en", "c"),
        ]
        d = _mini_docs_dir(tmp_path, spark, rows)
        out = {
            r["doc_id"]: r for r in QUERIES["ext_substring_cut"](spark, d).collect()
        }
        assert out[0]["cut_len"] == 0  # earliest occurrence kept
        assert out[2]["cut_len"] == 0
        assert out[1]["cut_len"] == 20
        assert out[1]["n_tokens_after"] == out[1]["n_tokens_before"] - 20
        # md5 must equal the hand-spliced remainder
        import hashlib

        want = hashlib.md5(
            "one two three four five six".encode()
        ).hexdigest()
        assert out[1]["clean_md5"] == want


class TestRound5BatchD:
    def test_spatial_cells_match_theta_join(self, spark):
        """The 3×3 neighbor-cell join must equal the naive theta join —
        pigeonhole completeness at threshold <= cell size."""
        from tests.conftest import SF_DIR
        from databricks_sales_etl_pipeline_spark.catalog import load

        got = sorted(
            map(
                tuple,
                QUERIES["join_spatial_cells"](spark, SF_DIR).collect(),
            )
        )
        c = load(spark, SF_DIR, "customer").select(
            "c_custkey",
            ((F.col("c_custkey") * 37) % 1800).alias("c_lat"),
            ((F.col("c_custkey") * 59) % 3600).alias("c_lon"),
        )
        s = load(spark, SF_DIR, "supplier").select(
            "s_suppkey",
            ((F.col("s_suppkey") * 41) % 1800).alias("s_lat"),
            ((F.col("s_suppkey") * 67) % 3600).alias("s_lon"),
        )
        dist = (
            F.abs(F.col("c_lat") - F.col("s_lat"))
            + F.abs(F.col("c_lon") - F.col("s_lon"))
        ).cast("long")
        want = sorted(
            map(
                tuple,
                c.crossJoin(s)
                .select("c_custkey", "s_suppkey", dist.alias("d"))
                .where(F.col("d") <= 30)
                .collect(),
            )
        )
        assert got == want

    def test_video_neardup_finds_planted_clusters(self, spark):
        """Same-base videos share most frames; every pair of consecutive
        cluster members at fixture scale must be recovered."""
        from tests.conftest import SF_DIR
        from databricks_sales_etl_pipeline_spark.extensions.multimodal import (
            _VID_CLUSTER,
        )

        rows = QUERIES["mm_video_neardup"](spark, SF_DIR).collect()
        got = {(r["vid_a"], r["vid_b"]) for r in rows}
        assert got, "no video pairs found"
        n_docs = max(max(a, b) for a, b in got) + 1
        missing = [
            (a, a + _VID_CLUSTER)
            for a in range(0, n_docs - _VID_CLUSTER)
            if (a, a + _VID_CLUSTER) not in got
        ]
        # ±1 noise can break at most a handful of frame hashes; same-base
        # neighbors share >= 2 of 4+ frames virtually always
        assert len(missing) <= n_docs // 50, missing[:5]

    def test_class_rebalance_targets_minority(self, spark):
        """Kept counts per class concentrate near the minority-class size
        (binomial expectation), and the minority class itself keeps all."""
        from tests.conftest import SF_DIR

        rows = QUERIES["ext_class_rebalance"](spark, SF_DIR).collect()
        per_class = {}
        for r in rows:
            per_class[r["lang"]] = (r["n_class"], r["n_kept"])
        n_min = min(n for n, _ in per_class.values())
        for lang, (n_class, n_kept) in per_class.items():
            if n_class == n_min:
                assert n_kept == n_class, lang  # rate 1.0 keeps everything
            else:
                # 4 sigma binomial band around n_min
                import math

                sigma = math.sqrt(n_class * (n_min / n_class) * (1 - n_min / n_class))
                assert abs(n_kept - n_min) <= 4 * sigma + 1, (
                    lang, n_kept, n_min)

    def test_randomized_response_estimator_is_consistent(self, spark):
        """estimate_x2 must equal 4·reported − n exactly, and the recovered
        estimate must sit within the mechanism's sampling noise of truth."""
        from tests.conftest import SF_DIR
        import math

        for r in QUERIES["ext_randomized_response"](spark, SF_DIR).collect():
            assert r["estimate_x2"] == 4 * r["reported_positives"] - r["n_users"]
            est = r["estimate_x2"] / 2
            # Var(est) = n·p(1−p)·4 with p=1/4 flip ⇒ sd = sqrt(3n)/... use
            # a loose 5·sqrt(n) band — the estimator is unbiased
            assert abs(est - r["true_positives"]) <= 5 * math.sqrt(r["n_users"]) + 2


class TestQualityClassifier:
    def test_classifier_learns_planted_signal(self, spark):
        """At corpus scale the Rocchio margin must separate the planted
        language markers almost perfectly (measured 1.0 on the sf0.01
        fixture; the bound is loose for regenerated testdata)."""
        import os

        sf = "/root/testdata/sf0.01"
        if not os.path.isdir(sf):
            import pytest

            pytest.skip("sf0.01 testdata not present")
        df = QUERIES["ext_quality_classifier"](spark, sf)
        acc = df.select(
            F.avg(((F.col("label") == 1) == F.col("pred_en")).cast("int"))
        ).collect()[0][0]
        assert acc >= 0.9, acc


class TestAdversarialCorpusParity:
    """Round-3's testdata-regeneration lesson, generalized: every round-5
    document-family query must stay oracle-exact on a corpus containing
    NULL / empty / whitespace-only / single-token / punctuation-only docs
    (caught ext_substring_cut emitting NULL clean_md5 for NULL text)."""

    _NAMES = [
        "ext_heavy_hitters", "ext_ngram_novelty", "ext_dedup_substring",
        "ext_substring_cut", "ext_url_canonicalize", "ext_html_strip",
        "mm_image_phash", "mm_video_neardup", "ext_quality_classifier",
        "ext_class_rebalance", "sql_lateral_view_outer",
    ]

    def test_edge_corpus_parity(self, spark, tmp_path):
        import duckdb as _dd
        import math
        import numpy as np
        import pandas as pd

        rows = []
        for i in range(40):
            rows.append(
                (i, f"alpha beta gamma tok{i} delta epsilon zeta " * 8,
                 ["en", "de", "zh", "fr", "es"][i % 5], f"src{i % 4}")
            )
        rows += [
            (40, None, "en", "src0"), (41, "", "de", "src1"),
            (42, "   ", "zh", "src2"), (43, "solo", "fr", "src3"),
            (44, "!!! ???", "es", "src0"),
        ]
        d = str(tmp_path / "edge")
        spark.createDataFrame(
            rows, "doc_id bigint, text string, lang string, source string"
        ).withColumn("n_chars", F.length("text")).coalesce(1).write.parquet(
            f"{d}/documents.parquet"
        )
        con = _dd.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )

        def norm(v):
            if v is None:
                return None
            if not isinstance(v, (str, bytes)) and pd.isna(v):
                return None
            if isinstance(v, (np.floating, float)):
                f = float(v)
                return None if math.isnan(f) else ("f", repr(f + 0.0))
            if isinstance(v, (np.bool_, bool)):
                return ("b", bool(v))
            if isinstance(v, (np.integer, int)):
                return ("i", int(v))
            return ("s", str(v))

        def canon(pdf):
            cols = sorted(pdf.columns)
            return cols, sorted(
                (tuple(norm(r[c]) for c in cols) for r in pdf.to_dict("records")),
                key=repr,
            )

        fails = []
        for name in self._NAMES:
            try:
                sc, sr = canon(QUERIES[name](spark, d).toPandas())
                dc, dr = canon(con.execute(ORACLES[name]).df())
                assert sc == dc, "columns"
                assert sr == dr, f"values ({len(sr)} vs {len(dr)})"
            except Exception as e:  # noqa: BLE001
                fails.append((name, str(e)[:200]))
        assert not fails, fails


class TestHllUnion:
    def test_union_estimate_within_hll_error(self, spark):
        """Unioned monthly sketches must estimate yearly uniques within
        HLL's error envelope (lgK=12 default → ~1.6% rse; assert 4x)."""
        from tests.conftest import SF_DIR

        rows = QUERIES["ext_hll_union"](spark, SF_DIR).collect()
        assert rows
        for r in rows:
            rel = abs(r["uniques_est"] - r["uniques_exact"]) / max(
                r["uniques_exact"], 1
            )
            assert rel <= 0.065, (r["yr"], rel)
