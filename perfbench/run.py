#!/usr/bin/env python3
"""Benchmark: warm, fully materialised engine workloads with per-layer traces.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): ``curation``, ``medallion``; ``all`` runs
each workload of BENCHMARK.json in its own process.
One process, one closed-loop client, on ``local[<cores>]``. Set-up (session,
runtime conf, registry, one untimed warm-up pass that also checks every
output) is timed as ``setup_s``; then warm passes repeat until ``--seconds``
have passed and ``pass_s`` is their median. Every query
operation is timed from the call into ``QUERIES[name]`` through Spark's
``noop`` sink, which evaluates every output column without moving rows to
the driver.

``--trace 1`` restarts the Spark context (same JVM) with the event log on
and storage probes, runs one warm pass and then timed traced passes,
restarts it once more untraced for one warm pass and as many timed passes,
and prints the per-layer metrics instead of the end-to-end ones.

The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
the run's context (host, CPU steal, fixture digest, probe, per-operation
times) and every headline metric
by name and unit. The exit code is non-zero when any operation failed or any
check did not hold.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import fixture  # noqa: E402
import tracing  # noqa: E402
from workloads import (  # noqa: E402
    OPERATORS,
    WORKLOADS,
    MedallionWorkload,
    dir_stats,
    output_digest,
    reset_dir,
)

EXPECTED = os.path.join(HERE, "expected.json")


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (Spark's Python workers), from /proc."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids = [int(c) for c in f.read().split()]
        except FileNotFoundError:
            continue
        for kid in kids:
            out.append(kid)
            out.extend(descendants(kid))
    return out


def reap(pids: list[int], timeout_s: float = 10.0) -> None:
    """Wait for ``pids`` (not our children) to exit; kill what outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process awaiting reaping is not alive."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (FileNotFoundError, ProcessLookupError):
        return False


def sweep_dead_work(work_root: str) -> None:
    """Remove scratch dirs (``<workload>-<pid>``) left by processes that are
    gone, e.g. killed runs; a live run's dir is never touched."""
    if not os.path.isdir(work_root):
        return
    for name in os.listdir(work_root):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)


def host_settings(work: str) -> dict:
    """Size the engine to this host and keep every scratch file in ``work``:
    cores from the affinity mask, driver heap a quarter of RAM (at most the
    session's 16g default), temp and Spark local dirs under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    mem_gib = mem_kib / 2**20
    driver_gib = max(1, min(16, round(mem_gib / 4)))
    tmp = reset_dir(os.path.join(work, "tmp"))
    os.environ.update(
        # spark-submit's launcher JVM: no /tmp/hsperfdata, temp files in work
        SPARK_LAUNCHER_OPTS=jvm_opts(work),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{driver_gib}g",
        SPARK_LOCAL_DIRS=reset_dir(os.path.join(work, "local")),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    os.environ.pop("SPARK_MASTER", None)
    tempfile.tempdir = tmp
    return {"cpus": cpus, "mem_gib": round(mem_gib, 2), "driver_memory": f"{driver_gib}g"}


def jvm_opts(work: str) -> str:
    return f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts(work),
    }
    if traced:
        logdir = reset_dir(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{logdir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


class Bench:
    """State of one benchmark process: the session, its listeners, the
    per-operation job counts and every failure seen."""

    def __init__(self, args, work: str, cpus: int):
        self.args = args
        self.work = work
        self.cpus = cpus
        self.wl = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.sf_dir: str | None = None
        self.expected: dict[str, dict] = {}
        self.observed: dict[str, dict] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.jobs: dict[str, list[int]] = {}
        self.layer: dict[str, float] = {}
        self.plan_sizes = None
        self.stream = tracing.StreamProgress()
        self.traced = False
        self.spark = None

    # -- session ---------------------------------------------------------
    def start(self, traced: bool) -> None:
        """Create the session; the first call's timings are set-up layers."""
        from databricks_sales_etl_pipeline_spark.catalog import ensure_runtime_conf
        from databricks_sales_etl_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", **spark_conf(self.work, traced))
        t1 = time.perf_counter()
        ensure_runtime_conf(self.spark)
        t2 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.traced = traced
        self.layer.setdefault("session.get_spark_s", t1 - t0)
        self.layer.setdefault("catalog.ensure_runtime_conf_s", t2 - t1)
        self.spark.streams.addListener(self.stream)

    def jvm_pid(self) -> int:
        return self.sc._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            if gw is not None:
                proc = gw.proc
                children = descendants(proc.pid)
                gw.shutdown()
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
                reap(children)
                SparkContext._gateway = None
                SparkContext._jvm = None

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)
        self.stream.group = name

    def job_count(self, name: str) -> int:
        """Jobs of step ``name``, with those of the streaming queries it started."""
        tracker = self.sc.statusTracker()
        groups = [name] + self.stream.runs_of(name)
        return sum(len(tracker.getJobIdsForGroup(g)) for g in groups)

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAIL {what}", file=sys.stderr, flush=True)

    # -- query workloads -------------------------------------------------
    def query_pass(self, tag: str, check: bool) -> dict:
        """One pass over the workload's operations in seed order. Returns
        summed build/sink wall times and, when traced, checkpoint bytes."""
        from databricks_sales_etl_pipeline_spark.registry import QUERIES

        build_s = sink_s = ckpt = 0.0
        op_s: dict[str, float] = {}
        for op in self.wl.order(self.rng):
            label = f"{tag}/{op}"
            self.attempted += 1
            try:
                self.group(f"{label}|build")
                t0 = time.perf_counter()
                df = QUERIES[op](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                self.group(f"{label}|sink")
                if check:
                    self.plan_sizes.clear()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception:
                self.fail(f"{label}: {traceback.format_exc(limit=3)}")
                continue
            build_s += t1 - t0
            sink_s += t2 - t1
            op_s[op] = t2 - t0
            if self.traced:
                ckpt += tracing.storage_bytes(self.spark)
            self.jobs.setdefault(op, []).append(
                self.job_count(f"{label}|build") + self.job_count(f"{label}|sink")
            )
            if check:
                self.check_query(op, label, df)
            del df
        return {
            "wall": build_s + sink_s,
            "build_s": build_s,
            "sink_s": sink_s,
            "operators_s": sum(t for op, t in op_s.items() if op in OPERATORS),
            "ckpt": ckpt,
            "op_s": op_s,
        }

    def check_query(self, op: str, label: str, df) -> None:
        """Materialisation guard and output check, both untimed."""
        own = tracing.plan_nodes(df._jdf.queryExecution().optimizedPlan())
        timed = self.plan_sizes.take("overwrite")
        if timed is None or timed < own:
            self.fail(f"{label}: timed plan has {timed} nodes, the op's own plan {own}")
        self.group(f"{label}|check")
        got = output_digest(df)
        self.observed[op] = got
        want = self.expected.get(op)
        if want is None:
            self.fail(f"{label}: no expected output committed")
        elif want != got:
            self.fail(f"{label}: output {got} != expected {want}")

    # -- medallion -------------------------------------------------------
    def medallion_pass(self, tag: str, n: int, check: bool) -> dict:
        """One medallion pass at ``n`` orders on bases of its own; returns
        step wall times. With ``check``, the pass's tables are checked after
        its last step."""
        from databricks_sales_etl_pipeline_spark.engine import Engine
        from databricks_sales_etl_pipeline_spark.io import write_table
        from databricks_sales_etl_pipeline_spark.plans.incremental import (
            run_incremental_silver,
        )
        from databricks_sales_etl_pipeline_spark.plans.medallion import (
            Medallion,
            to_bronze_format,
        )
        from databricks_sales_etl_pipeline_spark.sources.generator import gen_orders

        wl: MedallionWorkload = self.wl
        base = reset_dir(os.path.join(self.work, "medallion", tag))
        handle = Engine(spark=self.spark).medallion(base)
        m = Medallion(base)
        s = Medallion(os.path.join(base, "stream"))
        times: dict[str, float] = {}
        daily: list[float] = []
        files_per_append: list[int] = []

        def step(name: str, fn):
            self.attempted += 1
            self.group(f"{tag}/{name}|run")
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            self.jobs.setdefault(name, []).append(self.job_count(f"{tag}/{name}|run"))
            return out, dt

        def bronze_slice(start_id: int, **params):
            orders = gen_orders(self.spark, n=wl.daily_n, start_id=start_id, **params)
            write_table(to_bronze_format(orders), s.bronze, mode="append")

        try:
            report, times["initial"] = step("initial", lambda: handle.initial(n=n))
            for d in range(wl.days):
                before = dir_stats(m.bronze)[1]
                _, dt = step(f"daily{d}", lambda: handle.daily(n_orders=wl.daily_n))
                daily.append(dt)
                files_per_append.append(dir_stats(m.bronze)[1] - before)
            mon, times["monitor"] = step("monitor", lambda: handle.monitor().collect())
            _, times["seed"] = step("seed", lambda: bronze_slice(1))
            _, times["catchup"] = step("catchup", lambda: run_incremental_silver(self.spark, s))
            params = wl.slice_params(self.args.seed)
            _, times["append"] = step("append", lambda: bronze_slice(wl.daily_n + 1, **params))
            _, times["incremental"] = step(
                "incremental", lambda: run_incremental_silver(self.spark, s)
            )
        except Exception:
            self.fail(f"{tag}: {traceback.format_exc(limit=3)}")
            return {}
        if check:
            self.group(f"check/{tag}")
            self.check_medallion(tag, m, s, report, mon, n)
        size, _files = dir_stats(m.base)
        shutil.rmtree(base, ignore_errors=True)
        times["daily"] = sum(daily)
        return {
            "wall": sum(times.values()),
            "initial_s": times["initial"],
            "daily_s": statistics.median(daily),
            "incremental_s": times["incremental"],
            "bytes_per_row": size / (n + wl.days * wl.daily_n + 2 * wl.daily_n),
            "files_per_append": statistics.median(files_per_append),
            "op_s": times,
        }

    def check_medallion(self, tag: str, m, s, report: dict, mon, n: int) -> None:
        """The reference's DQ invariants on this pass's tables: ``m`` holds
        the batch pipeline, ``s`` the streaming Silver path."""
        from pyspark.sql import functions as F

        from databricks_sales_etl_pipeline_spark.io import read_table

        wl: MedallionWorkload = self.wl
        rows = n + wl.days * wl.daily_n
        problems = []
        if report["duplicate_order_ids"] != 0:
            problems.append(f"{report['duplicate_order_ids']} duplicate order_ids")
        nulls = {k: v for k, v in report["null_counts"].items() if v}
        if nulls:
            problems.append(f"nulls in DQ report {nulls}")
        silver = read_table(self.spark, m.silver)
        if silver.count() != rows or silver.select("order_id").distinct().count() != rows:
            problems.append(f"silver does not hold {rows} distinct orders")
        kpi = (
            read_table(self.spark, m.gold("kpi_summary"))
            .where(F.col("metric") == "total_orders")
            .first()["value"]
        )
        if kpi != rows:
            problems.append(f"gold total_orders {kpi} != silver rows {rows}")
        if any(r["bronze_rows"] != rows or r["silver_rows"] != rows for r in mon):
            problems.append("monitoring layer counts disagree")
        bronze = read_table(self.spark, s.bronze).count()
        streamed = read_table(self.spark, s.silver).count()
        if not bronze == streamed == 2 * wl.daily_n:
            problems.append(f"bronze {bronze} / silver {streamed} rows after incremental")
        for p in problems:
            self.fail(f"{tag}: {p}")

    # -- passes ----------------------------------------------------------
    def one_pass(self, tag: str, warm: bool) -> dict:
        if isinstance(self.wl, MedallionWorkload):
            n = self.wl.warm_n if warm else self.wl.n
            return self.medallion_pass(tag, n, check=warm)
        return self.query_pass(tag, check=warm)

    def timed_passes(self, tag: str, count: int | None) -> list[dict]:
        """Warm passes until ``--seconds`` have elapsed, or exactly ``count``."""
        passes: list[dict] = []
        t0 = time.perf_counter()
        while True:
            passes.append(self.one_pass(f"{tag}{len(passes)}", warm=False))
            if not passes[-1]:  # the pass failed; its failure is recorded
                return passes
            if count is not None:
                if len(passes) >= count:
                    return passes
            elif time.perf_counter() - t0 >= self.args.seconds:
                return passes

    def reuse_guard(self) -> None:
        for op, counts in self.jobs.items():
            if len(set(counts)) > 1:
                self.fail(f"{op}: Spark job count differs between passes {counts}")


def median(passes: list[dict], key: str) -> float:
    return statistics.median(p[key] for p in passes if p)


def xxhash_probe(spark, cpus: int) -> float:
    """Host speed probe, reported as context only: hash 5M ids on all cores."""
    from pyspark.sql import functions as F

    df = spark.range(0, 5_000_000, 1, cpus).select(F.sum(F.xxhash64("id").cast("decimal(38,0)")))
    t0 = time.perf_counter()
    df.collect()
    return time.perf_counter() - t0


def generator_rows_per_s(bench: Bench, n: int = 500_000) -> float:
    """Public ``gen_orders`` into the noop sink, median of three."""
    from databricks_sales_etl_pipeline_spark.sources.generator import gen_orders

    times = []
    for i in range(3):
        bench.group(f"gen/{i}|run")
        t0 = time.perf_counter()
        gen_orders(bench.spark, n=n).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return n / statistics.median(times)


def layer_metrics(bench: Bench, untraced: list[dict], traced: list[dict], extra: dict) -> dict:
    """Per-layer metrics of the traced timed passes (tag ``t``), per pass."""
    logdir = os.path.join(bench.work, "eventlog")
    lines: list[str] = []
    for name in os.listdir(logdir):
        with open(os.path.join(logdir, name)) as f:
            lines.extend(f)
    folded = tracing.regroup(tracing.fold_event_log(lines), bench.stream.owners)
    k = len(traced)
    timed = tracing.total(folded, lambda g: g.startswith("t"))
    build = tracing.total(folded, lambda g: g.startswith("t") and g.endswith("|build"))
    daily = tracing.total(folded, lambda g: g.startswith("t") and "/daily" in g)
    n_daily = k * bench.wl.days if isinstance(bench.wl, MedallionWorkload) else 0
    traced_pass = median(traced, "wall")
    batches = bench.stream.snapshot(lambda g: g.startswith("t"))
    m = dict(bench.layer)
    m.update(extra)
    m.update(
        {
            "registry.build_s": median(traced, "build_s") if "build_s" in traced[0] else 0.0,
            "registry.build_jobs": build["jobs"] / k,
            "sink.action_s": median(traced, "sink_s") if "sink_s" in traced[0] else 0.0,
            "operators.pass_s": median(traced, "operators_s") if "operators_s" in traced[0] else 0.0,
            "spark.jobs": timed["jobs"] / k,
            "spark.stages": timed["stages"] / k,
            "spark.tasks": timed["tasks"] / k,
            "executor.run_s": timed["run_s"] / k,
            "executor.cpu_s": timed["cpu_s"] / k,
            "executor.gc_s": timed["gc_s"] / k,
            "executor.busy_ratio": timed["run_s"] / k / (traced_pass * bench.cpus),
            "scan.bytes_read": timed["bytes_read"] / k,
            "scan.rows_read": timed["rows_read"] / k,
            "shuffle.bytes_written": timed["shuffle_bytes_written"] / k,
            "shuffle.records_written": timed["shuffle_records_written"] / k,
            "shuffle.fetch_wait_s": timed["fetch_wait_s"] / k,
            "spill.bytes": timed["spill_bytes"] / k,
            "udf.python_run_s": timed["python_run_s"] / k,
            "udf.python_start_s": timed["python_start_s"] / k,
            "udf.bytes_to_python": timed["bytes_to_python"] / k,
            "udf.bytes_from_python": timed["bytes_from_python"] / k,
            "checkpoint.bytes": median(traced, "ckpt") if "ckpt" in traced[0] else 0.0,
            "io.bytes_written": timed["bytes_written"] / k,
            "io.files_written": timed["files_written"] / k,
            "daily.jobs": daily["jobs"] / n_daily if n_daily else 0.0,
            "daily.scan_bytes": daily["bytes_read"] / n_daily if n_daily else 0.0,
            "stream.batches": len(batches) / k,
            "stream.batch_ms": statistics.median(b[1] for b in batches) if batches else 0.0,
            "stream.input_rows": sum(b[0] for b in batches) / k,
            "trace.overhead": traced_pass / median(untraced, "wall"),
        }
    )
    return m


ETL_METRICS = ("etl_build_s", "etl_daily_s", "etl_incremental_s", "etl_ingest_rows_per_s")


def etl_metrics(bench: Bench, passes: list[dict]) -> dict:
    if not isinstance(bench.wl, MedallionWorkload):
        return {}
    build = median(passes, "initial_s")
    return {
        "etl_build_s": build,
        "etl_daily_s": median(passes, "daily_s"),
        "etl_incremental_s": median(passes, "incremental_s"),
        "etl_ingest_rows_per_s": bench.wl.n / build,
    }


UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "driver_rss_peak_mb": "MiB",
    "op_fail_ratio": "ratio",
    "etl_build_s": "s",
    "etl_daily_s": "s",
    "etl_incremental_s": "s",
    "etl_ingest_rows_per_s": "rows/s",
}


def run_all(args, names: list[str]) -> int:
    """Every workload of BENCHMARK.json, each in its own process (a fresh
    JVM); non-zero if any of them failed."""
    rcs = [
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name]
            + ["--seed", str(args.seed), "--seconds", str(args.seconds)]
            + ["--trace", str(args.trace)]
        ).returncode
        for name in names
    ]
    return max(rcs)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload == "all":
        return run_all(args, [w["name"] for w in spec["workloads"]])
    # import the engine before any work: a checkout without it fails fast
    from databricks_sales_etl_pipeline_spark import registry

    work_root = os.path.join(HERE, ".work")
    sweep_dead_work(work_root)
    work = reset_dir(os.path.join(work_root, f"{args.workload}-{os.getpid()}"))
    host = host_settings(work)
    bench = Bench(args, work, host["cpus"])

    t0 = time.perf_counter()  # fixture generation is a build step, not set-up
    sf = getattr(bench.wl, "sf", None)
    if sf is not None:
        bench.sf_dir = fixture.ensure(os.path.join(HERE, ".cache"), sf)
        with open(EXPECTED) as f:
            bench.expected = json.load(f).get(f"sf{sf}", {})
        host["fixture_digest"] = fixture.size_digest(bench.sf_dir)
    fixture_s = time.perf_counter() - t0

    try:
        bench.start(traced=False)
        t0 = time.perf_counter()
        registry.load_all()
        bench.layer["registry.load_all_s"] = time.perf_counter() - t0
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(bench.sc._gateway)
        bench.plan_sizes = tracing.PlanSizes()
        listeners = bench.spark._jsparkSession.listenerManager()
        listeners.register(bench.plan_sizes)
        t0 = time.perf_counter()
        bench.one_pass("w", warm=True)
        bench.layer["warmup_pass_s"] = time.perf_counter() - t0
        listeners.unregister(bench.plan_sizes)
        setup_s = process_age_s() - fixture_s

        cpu0 = tracing.cpu_ticks()
        if args.trace:
            # traced context, then an untraced one, each after its own warm
            # pass: trace.overhead compares passes of equal JVM warmth
            bench.spark.stop()
            bench.start(traced=True)
            bench.one_pass("x", warm=False)
            traced = bench.timed_passes("t", None)
            bench.spark.stop()
            bench.start(traced=False)
            bench.one_pass("y", warm=False)
            passes = bench.timed_passes("u", len(traced))
        else:
            passes = bench.timed_passes("a", None)
        host["cpu_steal_share"] = tracing.steal_share(cpu0, tracing.cpu_ticks())
        metrics = {
            "setup_s": setup_s,
            "pass_s": median(passes, "wall"),
            "driver_rss_peak_mb": tracing.vm_hwm_mb(bench.jvm_pid()),
        }
        etl = etl_metrics(bench, passes)
        host["op_s"] = [p["op_s"] for p in passes if p]
        host["xxhash_probe_s"] = xxhash_probe(bench.spark, bench.cpus)
        if args.trace:
            # per-layer metrics that do not apply to this workload read 0
            extra = {k: etl.get(k, 0.0) for k in ETL_METRICS}
            extra["driver_rss_peak_mb"] = metrics["driver_rss_peak_mb"]
            extra["generator.rows_per_s"] = generator_rows_per_s(bench)
            extra["io.bytes_per_row"] = median(passes, "bytes_per_row") if etl else 0.0
            extra["io.files_per_append"] = median(passes, "files_per_append") if etl else 0.0
            bench.shutdown()
            layer = layer_metrics(bench, passes, traced, extra)
            reported = {x["name"]: layer[x["name"]] for x in spec["per_layer"]}
        else:
            bench.shutdown()
            reported = {x["name"]: metrics[x["name"]] for x in spec["end_to_end"]}
    except Exception:
        bench.fail(traceback.format_exc())
        metrics, etl, reported = {}, {}, {}
    finally:
        from pyspark import SparkContext

        if SparkContext._gateway is not None:
            bench.shutdown()
    bench.reuse_guard()
    shutil.rmtree(work, ignore_errors=True)

    attempted = max(bench.attempted, 1)
    failed = min(len(bench.failures), attempted)
    headline = dict(metrics, op_fail_ratio=failed / attempted, **etl)
    print(
        json.dumps(
            {
                "context": host,
                "setup_layers": bench.layer,
                "workload": args.workload,
                "seed": args.seed,
                "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in headline.items()},
                "observed_outputs": bench.observed,
            }
        )
    )
    units = {x["name"]: x["unit"] for x in spec["end_to_end"] + spec["per_layer"]}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in reported.items()},
            }
        ),
        flush=True,
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
