"""Driver-contract robustness (the verify skill's 'worth probing' list):
repeat invocations in one process, sink temp-dir uniqueness, clean errors
on a bad sf_dir — the failure modes a long-lived driver process hits."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

import __spark_entry__ as entrymod
from databricks_sales_etl_pipeline_spark.registry import ORACLES, QUERIES, load_all
from tests.conftest import SF_DIR

load_all()


def test_entry_runs_twice_in_one_process(spark):
    r1 = entrymod.entry(spark).collect()
    r2 = entrymod.entry(spark).collect()
    assert len(r1) == len(r2) > 0
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))


@pytest.mark.parametrize(
    "name", ["sink_overwrite", "sink_append", "tbl_time_travel", "sink_merge_schema"]
)
def test_sink_queries_rerun_in_one_process(spark, name):
    """Sink queries must not collide with their own leftovers (unique temp
    dirs / DROP-first discipline) when the driver calls them repeatedly."""
    a = QUERIES[name](spark, SF_DIR).count()
    b = QUERIES[name](spark, SF_DIR).count()
    assert a == b > 0


def test_bad_sf_dir_raises_cleanly(spark):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        QUERIES["agg_count_star"](spark, "/root/testdata/does_not_exist").collect()


def test_oracle_keys_are_query_keys():
    assert set(ORACLES) <= set(QUERIES)
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


_OUTSIDE_CHECKOUT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from databricks_sales_etl_pipeline_spark.registry import QUERIES, load_all
    load_all()
    {session}
    for name in ("mm_video_neardup", "udtf_tokenize"):
        print(name, QUERIES[name](spark, sys.argv[2]).count())
    spark.stop()
    """
)

#: the engine's own session, and the driver's kind: vanilla, sized by hand
_SESSIONS = {
    "get_spark": (
        "from databricks_sales_etl_pipeline_spark.session import get_spark\n"
        'spark = get_spark("dsep-outside-checkout")'
    ),
    "vanilla": (
        "from pyspark.sql import SparkSession\n"
        'spark = (SparkSession.builder.master("local[2]")'
        '.config("spark.driver.memory", "1g").getOrCreate())'
    ),
}


@pytest.mark.parametrize("session", sorted(_SESSIONS))
def test_python_workers_import_the_package_from_any_directory(tmp_path, session):
    """Run from a directory outside the checkout with the repo only on the
    driver's sys.path: the Python workers that run a mapInPandas stage and
    a UDTF must still import the package, whoever built the session."""
    repo = Path(__file__).resolve().parents[1]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    script = _OUTSIDE_CHECKOUT.replace("{session}", _SESSIONS[session])
    done = subprocess.run(
        [sys.executable, "-c", script, str(repo), SF_DIR],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    counts = dict(line.split() for line in done.stdout.splitlines())
    assert set(counts) == {"mm_video_neardup", "udtf_tokenize"}
    assert all(int(n) > 0 for n in counts.values())
