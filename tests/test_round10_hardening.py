"""Round-10 hardening evidence, on the one scratch policy ``io.scratch_dir``.

1. Scratch dirs are per-(process, tag): the round-10 determinism sweep ran
   two engine processes concurrently and their identical streaming queries
   rmtree'd each other's LIVE checkpoint dirs (STREAM_FAILED / 'Directory
   not empty'). The dir must embed the PID so concurrent instances never
   share scratch, while the same tag still reuses its dir within one
   process (bounded leak).
2. Repeated queries accumulate nothing: a uuid per call used to leave one
   temp dir and one memory-sink view behind per call.
3. materialize_grams' switch behavior is pinned in test_gram_fanout.py.
"""

from __future__ import annotations

import os
import tempfile

from databricks_sales_etl_pipeline_spark.io import scratch_dir
from databricks_sales_etl_pipeline_spark.registry import QUERIES, load_all
from tests.conftest import SF_DIR


def test_scratch_dir_is_pid_keyed():
    p = scratch_dir("unittag")
    assert os.path.basename(p) == f"dsep_{os.getpid()}_unittag"
    # same tag, same process -> same path (bounded, wiped before reuse)
    assert scratch_dir("unittag") == p
    # distinct tags stay distinct
    assert scratch_dir("othertag") != p


def test_scratch_dir_wipes_before_reuse():
    p = scratch_dir("wipetag")
    os.makedirs(os.path.join(p, "state"), exist_ok=True)
    assert os.path.exists(p)
    p2 = scratch_dir("wipetag")
    assert p2 == p and not os.path.exists(p2)


def test_scratch_dir_sweeps_only_dead_owners():
    """PID-keying stopped the live-dir race but would leave dead processes'
    scratch dirs to the OS reaper. ``scratch_dir`` must remove a dir whose
    embedded PID no longer exists, must NOT touch a live owner's dir (our
    own PID stands in for 'live'), and must never touch a dir without an
    owner PID."""
    import shutil
    import subprocess
    import sys

    tmp = tempfile.gettempdir()
    # a genuinely dead PID: spawn a process and let it exit
    proc = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          stdout=subprocess.PIPE, text=True)
    dead_pid = int(proc.stdout.strip())
    dead = os.path.join(tmp, f"dsep_{dead_pid}_sweeptest")
    live = os.path.join(tmp, f"dsep_{os.getpid()}_sweeptest")
    ownerless = os.path.join(tmp, "dsep_sweeptest_noowner")
    for d in (dead, live, ownerless):
        os.makedirs(d, exist_ok=True)
    try:
        scratch_dir("othertag")
        assert not os.path.exists(dead), "dead owner's dir must be swept"
        assert os.path.exists(live), "live owner's dir must survive"
        assert os.path.exists(ownerless), "a dir without an owner PID is never swept"
    finally:
        for d in (live, ownerless):
            shutil.rmtree(d, ignore_errors=True)


def _own_dirs() -> set[str]:
    mine = f"dsep_{os.getpid()}_"
    return {n for n in os.listdir(tempfile.gettempdir()) if n.startswith(mine)}


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_repeated_scratch_queries_accumulate_nothing(spark):
    """One memory-sink query, one sink round-trip and the state-inspect
    stream run twice in one session: the second pass adds no temp view and
    no scratch dir, and returns the same rows."""
    load_all()
    names = ["stream_static_join", "sink_overwrite", "stream_state_inspect"]

    def run_all():
        return {n: sorted(QUERIES[n](spark, SF_DIR).collect()) for n in names}

    first = run_all()
    views, dirs = _temp_views(spark), _own_dirs()
    second = run_all()
    assert _temp_views(spark) == views
    assert _own_dirs() == dirs
    assert second == first
