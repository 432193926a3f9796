"""Unit tests of the benchmark's event-log fold and probes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import tracing  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def folded():
    with open(LOG) as f:
        return tracing.fold_event_log(f)


def test_jobs_stages_tasks_attributed_by_group(folded):
    sink, build, none = folded["t0/op|sink"], folded["t0/op|build"], folded[""]
    assert (sink["jobs"], sink["stages"], sink["tasks"]) == (1, 2, 3)
    # stage 1 is listed again by job 1 but belongs to the job that first listed it
    assert (build["jobs"], build["stages"], build["tasks"]) == (1, 1, 1)
    assert (none["jobs"], none["stages"], none["tasks"]) == (1, 1, 1)


def test_task_metrics_are_summed_in_seconds_and_bytes(folded):
    c = folded["t0/op|sink"]
    assert c["run_s"] == pytest.approx(4.0)
    assert c["cpu_s"] == pytest.approx(1.75)
    assert c["gc_s"] == pytest.approx(0.025)
    assert (c["bytes_read"], c["rows_read"]) == (3000, 30)
    assert (c["shuffle_bytes_written"], c["shuffle_records_written"]) == (400, 4)
    assert c["fetch_wait_s"] == pytest.approx(0.04)
    assert c["spill_bytes"] == 64  # disk bytes, not the in-memory size
    assert c["bytes_written"] == 4096


def test_python_worker_metrics_come_from_task_accumulables(folded):
    c = folded["t0/op|sink"]
    assert c["python_run_s"] == pytest.approx(1.2)
    assert c["python_start_s"] == pytest.approx(0.03)
    assert (c["bytes_to_python"], c["bytes_from_python"]) == (5000, 700)


def test_driver_side_written_files_follow_the_sql_execution(folded):
    assert folded["t0/op|sink"]["files_written"] == 2
    assert folded["t0/op|build"]["files_written"] == 0


def test_total_sums_selected_groups(folded):
    acc = tracing.total(folded, lambda g: g.startswith("t0/"))
    assert acc["jobs"] == 2
    assert acc["tasks"] == 4
    assert acc["run_s"] == pytest.approx(4.1)


RUN_ID = "0c5e6a0e-9d1f-4b2a-8e57-3f1d2a7b9c40"


def test_streaming_jobs_are_folded_into_the_step_that_started_the_query(folded):
    # a streaming query's jobs carry its runId as job group, not the step's
    assert folded[RUN_ID]["jobs"] == 1
    moved = tracing.regroup(folded, {RUN_ID: "t0/catchup|run"})
    assert RUN_ID not in moved
    step = moved["t0/catchup|run"]
    assert (step["jobs"], step["stages"], step["tasks"]) == (1, 1, 1)
    assert step["bytes_written"] == 2048
    assert step["run_s"] == pytest.approx(0.3)
    assert moved["t0/op|sink"] == folded["t0/op|sink"]


def test_stream_progress_ties_queries_and_batches_to_steps():
    class Event:
        def __init__(self, **kw):
            self.__dict__.update(kw)

    def progress(run, rows, ms):
        p = Event(runId=run, numInputRows=rows, durationMs={"triggerExecution": ms})
        return Event(progress=p)

    sp = tracing.StreamProgress()
    sp.group = "x0/catchup|run"
    sp.onQueryStarted(Event(runId="r-warm"))
    sp.group = "t0/catchup|run"
    sp.onQueryStarted(Event(runId="r-timed"))
    sp.onQueryProgress(progress("r-warm", 10, 5))
    sp.onQueryProgress(progress("r-timed", 20, 7))
    assert sp.runs_of("t0/catchup|run") == ["r-timed"]
    assert sp.snapshot(lambda g: g.startswith("t")) == [(20, 7.0)]


def test_plan_nodes_counts_tree_lines():
    class Plan:
        def treeString(self):
            return "Project [a]\n+- Filter (a > 1)\n   +- Range (0, 10)\n"

    assert tracing.plan_nodes(Plan()) == 3


def test_vm_hwm_reads_this_process():
    assert tracing.vm_hwm_mb(os.getpid()) > 1.0
