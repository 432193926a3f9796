"""Property-based tests (hypothesis): the cross-engine float-parity
discipline holds for arbitrary inputs, not just the fixtures.

Each example generates a batch of values and runs ONE Spark job over the
batch (per-value jobs would be prohibitively slow), comparing against DuckDB
and pure-Python evaluations of the same IEEE expression tree.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

from databricks_sales_etl_pipeline_spark.functions.money import (
    cents,
    cents_sql,
    py_cents,
)
from databricks_sales_etl_pipeline_spark.plans.merge import merge_upsert

MONEY = st.one_of(
    st.floats(min_value=0, max_value=1e9, allow_nan=False, allow_infinity=False),
    # adversarial: values engineered near .xx5 rounding boundaries
    st.integers(min_value=0, max_value=10**7).map(lambda n: n / 100 + 0.005),
    st.integers(min_value=0, max_value=10**7).map(lambda n: n / 1000),
)

# negative balances (the fixture's c_acctbal / s_acctbal reach -994.28):
# ties at -x.xx5 round half up toward +inf in every engine
NEGATIVE_MONEY = st.one_of(
    st.floats(min_value=-1e9, max_value=0, allow_nan=False, allow_infinity=False),
    st.integers(min_value=0, max_value=10**7).map(lambda n: -(n / 100 + 0.005)),
    st.integers(min_value=1, max_value=10**7).map(lambda n: -n / 1000),
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(MONEY, min_size=1, max_size=300),
    st.lists(NEGATIVE_MONEY, max_size=300),
)
@example([2.675, 0.005], [-2.675, -0.005, -994.28, -821.16, -0.0])
def test_cents_matches_duckdb_and_python(spark, values, negatives):
    values = values + negatives
    df = spark.createDataFrame([(v,) for v in values], "x double")
    got = [r[0] for r in df.select(cents("x")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
    duck = [r[0] for r in con.execute(f"SELECT {cents_sql('x')} FROM t").fetchall()]
    assert got == py_cents(values).tolist() == duck


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


# --- the two-phase global-order kernel (functions/prefix.py) ---------------

from pyspark.sql import Window as _W  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from databricks_sales_etl_pipeline_spark.functions.prefix import (  # noqa: E402
    div_width,
    global_order,
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


TIED_PAIRS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=60),  # key, heavily tied
        st.integers(min_value=0, max_value=1000),  # weight
    ),
    min_size=1,
    max_size=300,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(TIED_PAIRS, st.booleans())
def test_global_order_matches_single_window(spark, pairs, descending):
    """Every kernel output equals the single global window over the same
    order: row_number for ``p``, rank()-1 for ``p_below``, the peer-group
    size for ``p_ties``, the ROWS running SUM for each ``sums`` entry —
    ascending and descending, with buckets small enough (fanout 7) that
    ties and running sums cross bucket edges often."""
    rows = [(i, k, w) for i, (k, w) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "id long, k long, w long")
    width = div_width(max(k for k, _ in pairs), fanout=7)
    key = F.col("k").desc() if descending else F.col("k").asc()
    full, ties = _W.orderBy(key, "id"), _W.orderBy(key)
    want = df.select(
        "id",
        F.row_number().over(full).cast("long").alias("p"),
        F.sum("w").over(full.rowsBetween(_W.unboundedPreceding, 0)).alias("cw"),
        F.sum(F.col("w") * 3).over(full.rowsBetween(_W.unboundedPreceding, 0))
        .alias("cw3"),
        (F.rank().over(ties) - 1).cast("long").alias("q_below"),
        F.count(F.lit(1)).over(_W.partitionBy("k")).alias("q_ties"),
    )
    got = global_order(
        spark,
        df,
        {
            "p": dict(
                key="k",
                then=["id"],
                desc=descending,
                width=width,
                sums={"cw": "w", "cw3": F.col("w") * 3},
            ),
            "q": dict(key="k", desc=descending, width=width),
        },
    ).select(*want.columns)
    assert got.dtypes == want.dtypes
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
def test_global_order_orderings_share_one_collect(spark, triples, d1, d2):
    """One call with three orderings (one GROUPING SETS collect) must
    equal three one-ordering calls — every output column, ascending AND
    descending, with and without a width."""
    rows = [(i, a, b, c) for i, (a, b, c) in enumerate(triples)]
    df = spark.createDataFrame(rows, "id long, a long, b long, c long")
    orders = {
        "pa": dict(key="a", then=["id"], desc=d1, width=4, sums={"sa": "c"}),
        "pb": dict(key="b", then=["id"], desc=d2),
        "pc": dict(key="c", then=["id"], width=3, sums={"sc": "a"}),
    }
    fused = global_order(spark, df, orders)
    for name, order in orders.items():
        one = global_order(spark, df, {name: order})
        assert sorted(map(tuple, one.collect())) == sorted(
            map(tuple, fused.select(*one.columns).collect())
        )
