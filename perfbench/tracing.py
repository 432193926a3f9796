"""Outside-in tracing for the benchmark: everything here reads what Spark
already records about a run, so no engine code is instrumented.

- ``fold_event_log`` folds a Spark event log (JSON lines) into counters per
  job group; the benchmark labels every operation's jobs with
  ``setJobGroup``, so a group is one phase of one operation in one pass.
- ``StreamProgress`` is a ``StreamingQueryListener`` that ties every
  streaming query to the step that started it and keeps its micro-batch
  progress; ``regroup`` moves the query's jobs into that step's group.
- ``PlanSizes`` is a ``QueryExecutionListener`` that records the size of the
  optimized plan of each action, for the materialisation guard.
- ``storage_bytes``, ``vm_hwm_mb`` and ``steal_share`` read block-manager
  storage and ``/proc``.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from collections.abc import Iterable

from pyspark.sql.streaming import StreamingQueryListener

#: Counters kept per job group. Times are in seconds, sizes in bytes.
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "bytes_read",
    "rows_read",
    "shuffle_bytes_written",
    "shuffle_records_written",
    "fetch_wait_s",
    "spill_bytes",
    "bytes_written",
    "files_written",
    "python_run_s",
    "python_start_s",
    "bytes_to_python",
    "bytes_from_python",
)

#: SQL metrics folded into counters: name -> (counter, scale). Executors
#: report them as task accumulables; writes report ``number of written
#: files`` from the driver after the job.
_ACCUMULABLES = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_start_s", 1e-3),
    "data sent to Python workers": ("bytes_to_python", 1),
    "data returned from Python workers": ("bytes_from_python", 1),
    "number of written files": ("files_written", 1),
}
_SQL = "org.apache.spark.sql.execution.ui."


def _plan_metrics(info: dict, names: dict[int, str]) -> None:
    """Collect ``accumulatorId -> metric name`` from a ``sparkPlanInfo`` tree."""
    for m in info.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metrics(child, names)


def fold_event_log(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Fold event-log lines into ``{job group: {counter: value}}``.

    Jobs are attributed by their ``spark.jobGroup.id`` property, stages by
    the job that first listed them, tasks by their stage, driver-side SQL
    metric updates by their SQL execution. Work without a group lands
    under ``""``."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    metric_names: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_group.get(ev.get("Stage ID"), "")]
            c["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            inp = m.get("Input Metrics") or {}
            c["bytes_read"] += inp.get("Bytes Read", 0)
            c["rows_read"] += inp.get("Records Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_bytes_written"] += sw.get("Shuffle Bytes Written", 0)
            c["shuffle_records_written"] += sw.get("Shuffle Records Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            c["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                hit = _ACCUMULABLES.get(acc.get("Name"))
                if hit and acc.get("Update") is not None:
                    c[hit[0]] += float(acc["Update"]) * hit[1]
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            if "jobGroupId" in ev:
                exec_group[ev["executionId"]] = ev["jobGroupId"] or ""
            _plan_metrics(ev.get("sparkPlanInfo") or {}, metric_names)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            c = out[exec_group.get(ev["executionId"], "")]
            for acc_id, value in ev.get("accumUpdates", []):
                hit = _ACCUMULABLES.get(metric_names.get(acc_id))
                if hit:
                    c[hit[0]] += float(value) * hit[1]
    return dict(out)


def total(folded: dict[str, dict[str, float]], keep) -> dict[str, float]:
    """Sum the counters of every group whose name satisfies ``keep``."""
    acc = dict.fromkeys(COUNTERS, 0.0)
    for group, counters in folded.items():
        if keep(group):
            for k, v in counters.items():
                acc[k] += v
    return acc


class StreamProgress(StreamingQueryListener):
    """Attributes streaming queries to the benchmark step that started them
    and keeps ``(numInputRows, triggerExecution ms)`` per micro-batch.

    A streaming query runs its micro-batch jobs (and the writes of a
    ``foreachBatch`` sink) on its own thread, under a job group named after
    its ``runId``. ``onQueryStarted`` is delivered synchronously while the
    starting thread waits in ``start()``, so ``group`` still names the step
    that started the query; ``owners`` maps each ``runId`` to that step."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.group = ""
        self.owners: dict[str, str] = {}
        self.batches: list[tuple[str, int, float]] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.owners[str(event.runId)] = self.group

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.batches.append(
                (
                    self.owners.get(str(p.runId), ""),
                    int(p.numInputRows),
                    float(p.durationMs.get("triggerExecution", 0)),
                )
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def runs_of(self, group: str) -> list[str]:
        """``runId`` of every streaming query started by step ``group``."""
        with self._lock:
            return [run for run, owner in self.owners.items() if owner == group]

    def snapshot(self, keep) -> list[tuple[int, float]]:
        """``(rows, ms)`` of the micro-batches of queries whose step satisfies ``keep``."""
        with self._lock:
            return [(rows, ms) for owner, rows, ms in self.batches if keep(owner)]


def regroup(folded: dict[str, dict[str, float]], owners: dict[str, str]) -> dict:
    """Fold the counters of each streaming query's ``runId`` group into the
    group of the step that started the query (see ``StreamProgress``)."""
    out = {g: dict(c) for g, c in folded.items() if g not in owners}
    for run, owner in owners.items():
        if run in folded:
            acc = out.setdefault(owner, dict.fromkeys(COUNTERS, 0))
            for k, v in folded[run].items():
                acc[k] += v
    return out


def plan_nodes(plan) -> int:
    """Number of operators in a JVM ``LogicalPlan`` (one tree-string line each)."""
    return sum(1 for line in plan.treeString().splitlines() if line.strip())


class PlanSizes:
    """``QueryExecutionListener`` recording ``(funcName, optimized-plan nodes)``
    of every action, delivered on Spark's listener bus."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.seen: list[tuple[str, int]] = []

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        n = plan_nodes(qe.optimizedPlan())
        with self._lock:
            self.seen.append((func_name, n))

    def onFailure(self, func_name, qe, exception) -> None:
        with self._lock:
            self.seen.append((func_name, -1))

    def clear(self) -> None:
        with self._lock:
            self.seen.clear()

    def take(self, func_name: str, timeout_s: float = 30.0) -> int | None:
        """Wait for the next recorded ``func_name`` action (a noop write in
        overwrite mode records as ``overwrite``) and return its plan size;
        earlier records are dropped."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                for i, (name, n) in enumerate(self.seen):
                    if name == func_name:
                        del self.seen[: i + 1]
                        return n
            time.sleep(0.01)
        return None

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def storage_bytes(spark) -> int:
    """Memory plus disk bytes of every persisted RDD, checkpoints included."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def cpu_ticks() -> list[int]:
    """Host-wide CPU time counters (the ``cpu`` line of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: context for a noisy run, never a correction."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
