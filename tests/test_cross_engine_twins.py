"""Cross-engine twins of the relations several analytics queries share.

Each Spark builder must equal its DuckDB twin, and each definition must be
spelled in one place only: a query calls the builder or the twin, never a
copy of its body."""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.catalog import load
from databricks_sales_etl_pipeline_spark.extensions.dedup import (
    shingle_rows,
    shingles_sql,
)
from databricks_sales_etl_pipeline_spark.extensions.drift import (
    _half_year_tally,
    _half_year_tally_sql,
)
from databricks_sales_etl_pipeline_spark.extensions.evalmetrics import (
    RETURNED_LABEL_SQL,
    returned_label,
)
from databricks_sales_etl_pipeline_spark.extensions.graph import (
    _BFS_ORDER_MOD,
    _BFS_SLICE,
    copurchase_edges,
    copurchase_edges_sql,
)
from databricks_sales_etl_pipeline_spark.extensions.multimodal import (
    ahash_bands,
    ahash_sql,
    gray8_ppm,
    hamming4,
    hamming4_sql,
)
from databricks_sales_etl_pipeline_spark.functions.money import (
    cents,
    cents_sql,
    py_cents,
)
from databricks_sales_etl_pipeline_spark.functions.series import (
    DAILY_EVENTS_SQL,
    daily_events,
    epoch_day,
    epoch_day_sql,
)
from databricks_sales_etl_pipeline_spark.functions.text import (
    normalized,
    normalized_sql,
    py_tokens,
    tokens,
    tokens_sql,
    words,
    words_sql,
)
from tests.conftest import SF_DIR

ENGINE = Path(__file__).resolve().parents[1] / "databricks_sales_etl_pipeline_spark"

# a pre-1970 date, the epoch itself, a leap day and the last second of it
_DAYS = [
    "DATE '1969-07-20'",
    "DATE '1970-01-01'",
    "DATE '2024-02-29'",
    "TIMESTAMP '2024-02-29 23:59:59'",
]


def test_epoch_day_matches_its_sql_twin(spark):
    got = spark.range(1).select(
        *(epoch_day(F.expr(d)).alias(f"d{i}") for i, d in enumerate(_DAYS))
    )
    assert {t for _, t in got.dtypes} == {"bigint"}
    want = duckdb.sql(
        "SELECT " + ", ".join(epoch_day_sql(d) for d in _DAYS)
    ).fetchone()
    assert tuple(got.first()) == want == (-165, 0, 19782, 19782)


# empty, 1-word and 2-word docs yield no shingle; doc 4 repeats "a b c";
# doc 6's leading space is a positional empty word; doc 7 splits on \t, \x0b
_CORPUS = [
    (1, ""),
    (2, "one"),
    (3, "two words"),
    (4, "a b c a b c d"),
    (5, "The quick  brown Fox jumps"),
    (6, " a b c"),
    (7, "a\tb\x0bc d"),
]


@pytest.mark.parametrize("k", [2, 3])
def test_shingle_rows_match_shingles_sql(spark, k):
    docs = spark.createDataFrame(_CORPUS, "doc_id bigint, text string")
    got = sorted(
        map(tuple, shingle_rows(docs, k=k).select("doc_id", "shingle").collect())
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", _CORPUS)
    want = sorted(con.execute(shingles_sql(k)).fetchall())
    assert got == want
    assert {d for d, _ in got} == {4, 5, 6, 7} | ({3} if k == 2 else set())
    assert [s for d, s in got if d == 4].count("a b c") == (1 if k == 3 else 0)


# leading, trailing and doubled spaces, tab, newline, \x0b (Java \s, not
# RE2 \s), \xa0 (Python str.split, not Java \s), uppercase, empty
_EDGE = [
    "",
    " a b",
    "a  b ",
    "a\tb\n",
    "a\x0bb",
    "a\xa0b",
    "A\x0cB\rc",
    "  The  Quick\n\nFOX  ",
]


def test_tokens_match_their_sql_and_python_twins(spark):
    rows = list(enumerate(_EDGE))
    got = (
        spark.createDataFrame(rows, "i int, s string")
        .select("i", words("s"), tokens("s"), normalized("s"))
        .orderBy("i")
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = con.execute(
        f"SELECT i, {words_sql('s')}, {tokens_sql('s')}, {normalized_sql('s')}"
        " FROM t ORDER BY i"
    ).fetchall()
    assert [tuple(r) for r in got] == want
    assert [r[2] for r in got] == [py_tokens(s) for s in _EDGE]
    assert py_tokens("a\x0bb") == ["a", "b"]
    assert py_tokens("a\xa0b") == ["a\xa0b"]
    assert want[1][1] == ["", "a", "b"]


def test_daily_events_matches_its_sql_twin(spark, duck):
    got = daily_events(load(spark, SF_DIR, "events"))
    assert got.dtypes == [("d", "bigint"), ("x", "bigint"), ("y", "bigint")]
    want = duck.execute(DAILY_EVENTS_SQL).fetchall()
    assert sorted(map(tuple, got.collect())) == sorted(want)


# ties at ±x.xx5 (binary just below or above), a negative balance as low as
# the fixture's c_acctbal, -0.0 and a value past 2^31 cents
_MONEY = [0.0, -0.0, 0.005, -0.005, 2.675, -2.675, 1.005, -1.005,
          -994.28, -821.16, 0.01, 12345678.915]


def test_cents_match_their_sql_and_python_twins(spark):
    got = [
        r[0]
        for r in spark.createDataFrame([(v,) for v in _MONEY], "x double")
        .select(cents("x"))
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(_MONEY)))
    want = [
        r[0]
        for r in con.execute(f"SELECT {cents_sql('x')} FROM t ORDER BY i").fetchall()
    ]
    assert got == want == py_cents(_MONEY).tolist()
    assert want[5] == -267 and want[8] == -99428


def test_returned_label_matches_its_sql_twin(spark, duck):
    got = returned_label(spark, SF_DIR)
    assert got.dtypes == [("l_orderkey", "bigint"), ("y", "bigint")]
    want = duck.execute(RETURNED_LABEL_SQL).fetchall()
    assert sorted(map(tuple, got.collect())) == sorted(want)
    assert {y for _, y in want} == {0, 1}


def test_copurchase_edges_match_their_sql_twin(spark, duck):
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    got = sorted(map(tuple, copurchase_edges(li).collect()))
    assert got == sorted(duck.execute(copurchase_edges_sql()).fetchall())
    assert got and all(a < b for a, b in got)
    # the sparsified slice ext_graph_bfs feeds both twins
    part = li.where(F.col("l_orderkey") % _BFS_ORDER_MOD == 0)
    sliced = sorted(map(tuple, copurchase_edges(part).collect()))
    assert sliced == sorted(duck.execute(copurchase_edges_sql(_BFS_SLICE)).fetchall())
    assert 0 < len(sliced) < len(got)


def test_half_year_tally_matches_its_sql_twin(spark, duck):
    got = _half_year_tally(
        load(spark, SF_DIR, "orders"), cents(F.col("o_totalprice"))
    )
    want = duck.execute(
        f"WITH {_half_year_tally_sql(cents_sql('o_totalprice'))}"
        " SELECT v, c1, c2 FROM per_v"
    ).fetchall()
    assert sorted(map(tuple, got.collect())) == sorted(want)


# the phash fixture's formula for a few doc ids, plus a flat image (no
# pixel above the mean) and a two-level one (exactly half above it)
_IMAGES = {
    d: [((d % 50) * 37 + i * 11) % 200 + (d * 7 + i) % 2 for i in range(64)]
    for d in (0, 1, 7, 49, 1234)
} | {-1: [9] * 64, -2: [0, 255] * 32}


def test_ahash_sql_matches_ahash_bands():
    con = duckdb.connect()
    con.execute("CREATE TABLE px (doc_id BIGINT, i BIGINT, p BIGINT)")
    con.executemany(
        "INSERT INTO px VALUES (?, ?, ?)",
        [(d, i, p) for d, px in _IMAGES.items() for i, p in enumerate(px)],
    )
    got = con.execute(
        f"WITH {ahash_sql('doc_id')} SELECT doc_id, s, b0, b1, b2, b3"
        " FROM fbands JOIN sums USING (doc_id) ORDER BY doc_id"
    ).fetchall()
    want = [
        (d, sum(px), *ahash_bands(gray8_ppm(px))) for d, px in sorted(_IMAGES.items())
    ]
    assert got == want
    assert want[1][2:] == (0, 0, 0, 0)  # the flat image
    assert want[0][2:] == (0xAAAA,) * 4  # every odd pixel is above the mean


def test_hamming4_matches_its_sql_twin(spark):
    pairs = [
        (0, 0, 0, 0, 0, 0, 0, 0),
        (0xFFFF, 0, 1, 2, 0, 0xFFFF, 3, 2),
        (0xAAAA, 0x5555, 0x0F0F, 0xF0F0, 0x5555, 0x5555, 0x0F0F, 0x0F0F),
    ]
    cols = "a0 long, a1 long, a2 long, a3 long, b0 long, b1 long, b2 long, b3 long"
    got = [
        r[0]
        for r in spark.createDataFrame(pairs, cols)
        .select(hamming4("a{j}", "b{j}"))
        .collect()
    ]
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t (i INT, {cols.replace('long', 'BIGINT')})")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)",
        [(i, *r) for i, r in enumerate(pairs)],
    )
    want = [
        r[0]
        for r in con.execute(
            f"SELECT {hamming4_sql('a{j}', 'b{j}')} FROM t ORDER BY i"
        ).fetchall()
    ]
    assert got == want == [0, 33, 32]


def _spellings(pattern: str) -> dict[str, int]:
    rx = re.compile(pattern)
    counts = {
        str(p.relative_to(ENGINE)): len(rx.findall(p.read_text()))
        for p in ENGINE.rglob("*.py")
    }
    return {f: n for f, n in counts.items() if n}


@pytest.mark.parametrize(
    "pattern, home",
    [
        (re.escape("DATE '1970-01-01'"), "functions/series.py"),
        (re.escape('F.lit("1970-01-01")'), "functions/series.py"),
        # the shingle body: distinct k-word windows over the split words
        (r"unnest\(list_distinct\(\s*list_transform\(", "extensions/dedup.py"),
        # the whitespace-token rule, Spark and DuckDB spellings
        (re.escape(r'r"\s+"'), "functions/text.py"),
        (re.escape(r"'\\s+'"), "functions/text.py"),
        (re.escape("string_split_regex("), "functions/text.py"),
        # the md5 -> int rule: 8 hex digits summed positionally in SQL
        (re.escape("0123456789abcdef"), "extensions/chunking.py"),
        # the aHash bit and band rule, and the VID0 container check
        (re.escape("WHEN p * 64 > s THEN"), "extensions/multimodal.py"),
        (re.escape("power(2, i % 16)"), "extensions/multimodal.py"),
        (re.escape('!= b"VID0"'), "extensions/multimodal.py"),
        # the Python workers' import path, set at runtime on any session
        (re.escape("sparkContext.environment"), "catalog.py"),
    ],
)
def test_shared_definitions_have_one_home(pattern, home):
    assert _spellings(pattern) == {home: 1}


def test_cents_rule_has_one_home():
    # the rule is written in functions/money.py only: once per twin and
    # once in its docstring, Spark, SQL text and numpy alike
    assert _spellings(r"100\s*\+\s*(F\.lit\()?0\.5") == {"functions/money.py": 4}
