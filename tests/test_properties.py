"""Property-based tests (hypothesis): the cross-engine float-parity
discipline holds for arbitrary inputs, not just the fixtures.

Each example generates a batch of values and runs ONE Spark job over the
batch (per-value jobs would be prohibitively slow), comparing against DuckDB
and pure-Python evaluations of the same IEEE expression tree.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from databricks_sales_etl_pipeline_spark.functions.money import cents
from databricks_sales_etl_pipeline_spark.plans.merge import merge_upsert

MONEY = st.one_of(
    st.floats(min_value=0, max_value=1e9, allow_nan=False, allow_infinity=False),
    # adversarial: values engineered near .xx5 rounding boundaries
    st.integers(min_value=0, max_value=10**7).map(lambda n: n / 100 + 0.005),
    st.integers(min_value=0, max_value=10**7).map(lambda n: n / 1000),
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(MONEY, min_size=1, max_size=300))
def test_cents_matches_duckdb_and_python(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    got = [r[0] for r in df.select(cents("x")).collect()]
    py = [math.floor(v * 100 + 0.5) for v in values]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
    duck = [
        r[0]
        for r in con.execute(
            "SELECT CAST(FLOOR(x * 100 + 0.5) AS BIGINT) FROM t"
        ).fetchall()
    ]
    assert got == py == duck


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.dictionaries(st.integers(0, 50), st.integers(-1000, 1000), max_size=30),
    st.dictionaries(st.integers(0, 50), st.integers(-1000, 1000), max_size=30),
)
def test_merge_upsert_laws(spark, target, updates):
    t = spark.createDataFrame([(k, v) for k, v in target.items()] or [(None, None)], "k int, v int").where("k IS NOT NULL")
    u = spark.createDataFrame([(k, v) for k, v in updates.items()] or [(None, None)], "k int, v int").where("k IS NOT NULL")
    merged = {r["k"]: r["v"] for r in merge_upsert(t, u, ["k"]).collect()}
    expected = {**target, **updates}
    assert merged == expected


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=40), min_size=1, max_size=20))
def test_shingle_rows_match_python_model(spark, texts):
    from databricks_sales_etl_pipeline_spark.extensions.dedup import shingle_rows

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r["doc_id"], r["shingle"]) for r in shingle_rows(df).collect()
    }
    expected = set()
    for i, text in enumerate(texts):
        # python model of the same semantics: split on \s+, 3-gram shingles,
        # distinct. NB: split keeps empty tokens at the edges, like the SQL.
        import re

        words = re.split(r"\s+", text.lower())
        for j in range(len(words) - 2):
            expected.add((i, " ".join(words[j : j + 3])))
    assert got == expected


# --- round-7 two-phase prefix helpers (functions/prefix.py) -----------------

from pyspark.sql import Window as _W  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from databricks_sales_etl_pipeline_spark.functions.prefix import (  # noqa: E402
    div_width,
    exclusive_carry,
    exclusive_carry_multi,
    ntile_from_pos,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=16, max_size=300),
    st.sampled_from([2, 3, 16, 64]),
)
def test_ntile_from_pos_matches_spark_ntile(spark, keys, k):
    """The closed-form row-split rule must equal F.ntile(k) over the same
    fully-pinned order for arbitrary (tied, skewed) key multisets."""
    rows = [(i, v) for i, v in enumerate(keys)]
    df = spark.createDataFrame(rows, "id long, v long")
    want = df.select(
        "id", F.ntile(k).over(_W.orderBy("v", "id")).cast("long").alias("t")
    )
    pos = F.row_number().over(_W.orderBy("v", "id"))
    got = df.select("id", ntile_from_pos(pos, len(keys), k).alias("t"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=300))
def test_two_phase_row_number_matches_global(spark, keys):
    """carry + in-bucket row_number == global row_number for the
    value-DIV-width monotone bucketing, whatever the value distribution."""
    from pyspark.sql.functions import broadcast

    rows = [(i, v) for i, v in enumerate(keys)]
    df = spark.createDataFrame(rows, "id long, v long")
    want = df.select(
        "id", F.row_number().over(_W.orderBy("v", "id")).cast("long").alias("rk")
    )
    width = div_width(max(keys), fanout=7)  # tiny fanout → many bucket crossings
    b = df.withColumn("vb", F.expr(f"v DIV {width}"))
    carry = exclusive_carry(spark, b, "vb")
    got = b.join(broadcast(carry), "vb").select(
        "id",
        (
            F.col("carry_in")
            + F.row_number().over(_W.partitionBy("vb").orderBy("v", "id"))
        ).alias("rk"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100),  # bucketable key
            st.integers(min_value=0, max_value=1000),  # weight
        ),
        min_size=1,
        max_size=300,
    ),
    st.booleans(),
)
def test_two_phase_running_sum_matches_global(spark, pairs, descending):
    """carry + in-bucket running SUM == the global ordered running SUM,
    both ascending and descending bucket order."""
    from pyspark.sql.functions import broadcast

    rows = [(i, k, w) for i, (k, w) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "id long, k long, w long")
    order = [F.col("k").desc() if descending else F.col("k").asc(), F.col("id")]
    want = df.select(
        "id",
        F.sum("w")
        .over(_W.orderBy(*order).rowsBetween(_W.unboundedPreceding, 0))
        .alias("c"),
    )
    carry = exclusive_carry(spark, df, "k", weight=F.col("w"), descending=descending)
    got = df.join(broadcast(carry), "k").select(
        "id",
        (
            F.col("carry_in")
            + F.sum("w").over(
                _W.partitionBy("k")
                .orderBy("id")
                .rowsBetween(_W.unboundedPreceding, 0)
            )
        ).alias("c"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=200,
    ),
    st.booleans(),
    st.booleans(),
)
def test_exclusive_carry_multi_matches_per_dimension(spark, triples, d1, d2):
    """The fused grouping-sets form (one input pass for N bucketings) must
    reproduce exclusive_carry per dimension exactly — rows, types,
    ascending AND descending bucket orders."""
    rows = [(i, a, b, c) for i, (a, b, c) in enumerate(triples)]
    df = spark.createDataFrame(rows, "id long, a long, b long, c long")
    fused = exclusive_carry_multi(
        spark, df, {"ca": ("a", d1), "cb": ("b", d2), "cc": ("c", False)}
    )
    for name, (bucket, desc) in {
        "ca": ("a", d1), "cb": ("b", d2), "cc": ("c", False)
    }.items():
        ref = exclusive_carry(spark, df, bucket, descending=desc)
        got = fused[name]
        assert got.schema.fieldNames() == [bucket, name]
        assert sorted(map(tuple, got.collect())) == sorted(
            (r[bucket], r["carry_in"]) for r in ref.collect()
        )
