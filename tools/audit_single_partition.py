#!/usr/bin/env python
"""Audit every registered query's physical plan for data-proportional
single-task stages: a Window (or ordered running aggregate) fed by an
``Exchange SinglePartition``. Bounded model tables (≤50-row histograms,
per-day aggregates, collected scalars) legitimately run there; the audit
exists to catch the OTHER kind — the round-6 verdict found three
(ext_shuffle_order, ext_histogram_equiheight's fixture path,
ext_peak_concurrency), fixed in round 7; the round-7 verdict found five
more hiding behind the old "aggregate-before-scan = bounded" heuristic
(ENTITY-keyed aggregates — customers/parts/users/orders grow linearly
with the data), fixed in round 8.

Round-8 hardening (verdict ask #5 + ADVICE): the scan is a real
indentation-tracked TREE walk, not a downward text scan — an Exchange in
a sibling branch (e.g. the other side of a join printed below the
Window) is no longer mis-attributed to the Window's input — and an
aggregate below the single-partition exchange only counts as "bounded"
when its grouping keys are NOT entity ids (custkey / suppkey / partkey /
orderkey / user_id / doc_id / part_id) or unbounded value domains
(cents, the v/nl rank measures): those grow with the data, so a window
over them is still a data-proportional single task at 100 TB.

Every action a query launches while it is built is audited, not only
its final plan: a window that runs inside an eager ``localCheckpoint``
(or feeds a driver collect) leaves nothing but ``Scan ExistingRDD`` in
the final plan (``query_plans``).

Usage: PYTHONPATH=. python tools/audit_single_partition.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

#: one tree level in Spark's treeString = 3 chars ("   " or ":  "),
#: then the node marker "+- " (last child) or ":- " (other children)
_MARKER = re.compile(r"^((?:   |:  )*)(?:([+:])- )?(.*)$")
_WINDOW = re.compile(r"\bWindow\b|WindowGroupLimit")
#: shuffle boundaries (BroadcastExchange intentionally excluded — a
#: broadcast input is bounded by the broadcast threshold by definition)
_SHUFFLE = re.compile(r"^(?:ReusedExchange\b.*\bExchange|Exchange)\b")
_AGG = re.compile(
    r"(?:HashAggregate|SortAggregate|ObjectHashAggregate)\(keys=\[([^\]]*)\]"
)
_BOUNDED = re.compile(
    r"CollectLimit|TakeOrderedAndProject|LocalTableScan"
)
#: a localCheckpoint scan hides its provenance — round-8 ports checkpoint
#: ENTITY-scaled aggregates, so "Scan ExistingRDD" must NOT read as
#: bounded: surface it as its own verdict for a human to verify.
_CHECKPOINT = re.compile(r"Scan ExistingRDD")
_RAW_SCAN = re.compile(r"Scan parquet|FileScan|Range \(")
#: grouping keys that scale with the data: TPC-H entity ids (NOT
#: nation/region — those are 25/5 rows at any sf) and unbounded value
#: domains (integer cents, the v/nl rank measures)
_ENTITY_KEY = re.compile(
    r"\w*(?:custkey|suppkey|partkey|orderkey|user_id|doc_id|part_id"
    r"|item_id|cents)\w*#|(?<![\w.])(?:v|nl)#"
)


def parse_tree(plan: str) -> list[tuple[int, str]]:
    """treeString → [(depth, node_text)] with real tree depths."""
    nodes = []
    for ln in plan.splitlines():
        m = _MARKER.match(ln)
        pad, marker, text = m.group(1), m.group(2), m.group(3)
        depth = len(pad) // 3 + (1 if marker else 0)
        nodes.append((depth, text))
    return nodes


def _children(nodes: list[tuple[int, str]], i: int) -> list[int]:
    d = nodes[i][0]
    out, j = [], i + 1
    while j < len(nodes) and nodes[j][0] > d:
        if nodes[j][0] == d + 1:
            out.append(j)
        j += 1
    return out


def _first_shuffles(nodes: list[tuple[int, str]], i: int, acc: list[int]) -> None:
    """Collect, per root-to-leaf path below node i, the index of the
    FIRST shuffle exchange encountered (paths without one contribute
    nothing)."""
    text = nodes[i][1]
    if _SHUFFLE.search(text):
        acc.append(i)
        return
    for c in _children(nodes, i):
        _first_shuffles(nodes, c, acc)


def _classify_below(nodes: list[tuple[int, str]], i: int) -> str:
    """What feeds the single-partition exchange at node i: walk its
    subtree path-wise to the first aggregate / bounded op / raw scan."""
    verdicts = []

    def walk(j: int) -> None:
        text = nodes[j][1]
        m = _AGG.search(text)
        if m:
            keys = m.group(1)
            ek = _ENTITY_KEY.search(keys)
            verdicts.append(
                f"ENTITY-scaled aggregate (keys ~ {ek.group(0)}) — "
                "data-proportional at scale!"
                if ek
                else "bounded (non-entity aggregate below)"
            )
            return
        if _BOUNDED.search(text):
            verdicts.append("bounded (limit/model table below)")
            return
        if _CHECKPOINT.search(text):
            verdicts.append(
                "unknown provenance (checkpointed — verify manually)"
            )
            return
        if _RAW_SCAN.search(text):
            verdicts.append("feeds-from-UNAGGREGATED-scan (data-proportional!)")
            return
        kids = _children(nodes, j)
        if not kids:
            verdicts.append("bounded (leaf)")
            return
        for c in kids:
            walk(c)

    for c in _children(nodes, i):
        walk(c)
    for bad in verdicts:
        if "data-proportional" in bad:
            return bad
    return verdicts[0] if verdicts else "bounded (leaf)"


def window_feed_verdicts(plan: str) -> list[str]:
    """For each Window node whose OWN input subtree crosses an Exchange
    SinglePartition before any repartitioning shuffle, the bounded /
    data-proportional classification of what feeds that exchange."""
    nodes = parse_tree(plan)
    out = []
    for i, (_, text) in enumerate(nodes):
        if not _WINDOW.search(text):
            continue
        shuffles: list[int] = []
        for c in _children(nodes, i):
            _first_shuffles(nodes, c, shuffles)
        for s in shuffles:
            if "SinglePartition" in nodes[s][1]:
                out.append(_classify_below(nodes, s))
    return out


def window_fed_by_single_partition(plan: str) -> bool:
    """True when ANY Window's input crosses a single-partition shuffle —
    the plan-shape assertion used by tests/test_round7_scale.py and
    tests/test_round8_scale.py (bounded or not: the ported operators
    must not have one at all)."""
    return bool(window_feed_verdicts(plan))


class _ActionPlans:
    """``QueryExecutionListener`` keeping the executed plan of every action
    (eager checkpoints and driver collects included)."""

    def __init__(self) -> None:
        self.plans: list[str] = []

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        self.plans.append(qe.executedPlan().toString())

    def onFailure(self, func_name, qe, exception) -> None:
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def query_plans(spark, query, sf_dir: str) -> list[str]:
    """The executed plans of every action ``query(spark, sf_dir)`` runs
    while it builds its DataFrame, then that DataFrame's own plan. A
    window inside an eager ``localCheckpoint`` shows only here: the final
    plan reads the checkpoint as ``Scan ExistingRDD``."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = _ActionPlans()
    manager = spark._jsparkSession.listenerManager()
    manager.register(listener)
    try:
        df = query(spark, sf_dir)
        # the listener runs on Spark's listener bus: drain it (the default
        # 10 s wait times out on a busy host)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(120_000)
    finally:
        manager.unregister(listener)
    return [*listener.plans, df._jdf.queryExecution().executedPlan().toString()]


def main() -> None:
    from databricks_sales_etl_pipeline_spark.registry import QUERIES, load_all
    from databricks_sales_etl_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    load_all()
    spark = get_spark("audit-sp")
    spark.sparkContext.setLogLevel("ERROR")
    hits: list[tuple[str, str]] = []
    errs: list[tuple[str, str]] = []
    for name in sorted(QUERIES):
        try:
            plans = query_plans(spark, QUERIES[name], sf_dir)
        except Exception as exc:  # noqa: BLE001
            errs.append((name, f"{type(exc).__name__}: {exc}"[:120]))
            continue
        verdicts = [v for plan in plans for v in window_feed_verdicts(plan)]
        if verdicts:
            hits.append(
                (name, max(verdicts, key=lambda v: "data-proportional" in v))
            )
    print(f"\n{len(hits)} queries with a Window fed by Exchange SinglePartition:")
    for name, why in hits:
        print(f"  {name}: {why}")
    if errs:
        print(f"\n{len(errs)} errored during planning:")
        for name, e in errs:
            print(f"  {name}: {e}")


if __name__ == "__main__":
    main()
