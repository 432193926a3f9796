"""Round-6 thirteenth wave: text-metadata operators (readability, RAKE,
BM25 rank) — verified against independent pure-Python recomputations."""

from __future__ import annotations

import os
import re

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.textmeta import (
    BM25_TERMS,
    BM25_TOPK,
    RAKE_STOPS,
    SENT_TOKENS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _docs(spark):
    rows = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    return {r["doc_id"]: r["text"] for r in rows}


class TestReadability:
    def test_matches_python_formula(self, spark):
        docs = _docs(spark)
        out = {r["doc_id"]: r for r in QUERIES["ext_readability"](spark, SF_DIR).collect()}
        assert set(out) == {k for k, v in docs.items() if v.split()}
        for doc_id in list(out)[:50]:
            toks = [t for t in docs[doc_id].lower().split() if t]
            w = len(toks)
            syl = len(re.findall(r"[aeiouy]+", docs[doc_id].lower()))
            s = (w + SENT_TOKENS - 1) // SENT_TOKENS
            grade = (3900 * w * w + 118000 * syl * s - 155900 * w * s) // (
                100 * w * s
            )
            r = out[doc_id]
            assert (r["words"], r["sentences"], r["syllables"]) == (w, s, syl)
            assert r["fk_grade_centi"] == grade


class TestKeywordRake:
    def test_matches_python_rake(self, spark):
        docs = _docs(spark)
        freq, degree = {}, {}
        stops = set(RAKE_STOPS)
        for text in docs.values():
            toks = [t for t in text.lower().split() if t]
            phrase = []
            for tok in toks + [next(iter(stops))]:  # sentinel flush
                if tok in stops:
                    for wtok in phrase:
                        freq[wtok] = freq.get(wtok, 0) + 1
                        degree[wtok] = degree.get(wtok, 0) + len(phrase)
                    phrase = []
                else:
                    phrase.append(tok)
        out = {r["word"]: r for r in QUERIES["ext_keyword_rake"](spark, SF_DIR).collect()}
        assert set(out) == set(freq)
        for wtok in freq:
            assert out[wtok]["freq"] == freq[wtok]
            assert out[wtok]["degree"] == degree[wtok]
            assert (
                out[wtok]["rake_score_ppm"]
                == degree[wtok] * 1_000_000 // freq[wtok]
            )
        # stopwords never score
        assert not (set(out) & stops)
        # multi-word phrases exist: some degree must exceed frequency
        assert any(out[wtok]["degree"] > out[wtok]["freq"] for wtok in out)


class TestBm25Rank:
    def test_topk_and_score_shape(self, spark):
        docs = _docs(spark)
        out = QUERIES["ext_bm25_rank"](spark, SF_DIR).collect()
        by_term = {}
        for r in out:
            by_term.setdefault(r["term"], []).append(r)
        assert set(by_term) <= set(BM25_TERMS)
        n = len(docs)
        total = sum(len([t for t in v.lower().split() if t]) for v in docs.values())
        for term, rows in by_term.items():
            rows.sort(key=lambda r: r["rk"])
            assert len(rows) <= BM25_TOPK
            assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
            # scores are non-increasing in rank order
            keys = [r["sat_ppm"] * r["rarity_ppm"] for r in rows]
            assert keys == sorted(keys, reverse=True)
            # recompute the top hit exactly
            df = sum(
                1 for v in docs.values() if term in [t for t in v.lower().split() if t]
            )
            top = rows[0]
            tf = [t for t in docs[top["doc_id"]].lower().split() if t].count(term)
            dl = len([t for t in docs[top["doc_id"]].lower().split() if t])
            assert top["tf"] == tf and top["dl"] == dl
            sat = (22_000_000 * tf * total) // (
                10 * tf * total + 3 * total + 9 * dl * n
            )
            rarity = ((2 * n - 2 * df + 1) * 1_000_000) // (2 * df + 1)
            assert top["sat_ppm"] == sat and top["rarity_ppm"] == rarity
            assert top["score"] == sat * rarity // 1_000_000
