"""Exact global orderings without a single-task window.

A global ordered window (``row_number``/``rank``/running ``SUM`` with no
partition key) executes as ONE task. When the leading sort key admits a
monotone bucketing (an integer function ``b(key)`` that never splits ties
across buckets and preserves order between buckets), the global result
splits into two phases:

  phase A: the same window PARTITIONED BY the bucket — parallel tasks;
  phase B: per-bucket totals, collected as a bounded model artifact, whose
           exclusive prefix is broadcast back as each bucket's carry.

``global = carry(bucket) + local`` equals the global window exactly
because prefix aggregation is associative and bucket order equals sort
order. :func:`global_order` is that recipe, written once; every engine
query that needs an exact global position, rank or running sum calls it
(``grep global_order`` lists them). The collect stays bounded because the
caller picks the bucket fan-out: ``key DIV div_width(max_key)`` has at
most 1025 buckets whatever the data volume, and bounded domains (calendar
days, token lengths, permille scores) are their own buckets.

``exclusive_carry_max`` is the same shape for a running MAX (skyline
frontiers). Seams that are not prefix aggregates — a next-bucket minimum
for a cross-bucket ``lead``, LOCF edges — stay with their callers.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.functions.localrel import local_df


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


class _Ordering(NamedTuple):
    key: str
    then: tuple | list = ()
    desc: bool = False
    width: int | None = None
    sums: dict[str, str | Column] = {}


def global_order(
    spark: SparkSession, df: DataFrame, orders: dict[str, dict]
) -> DataFrame:
    """``df`` plus, for each ordering ``p`` in ``orders``, the columns the
    single global window ``ORDER BY key [DESC], *then`` would give:

    - ``p``: ``row_number()`` (long);
    - ``p_below``: ``rank() - 1``, the rows strictly before the row's
      peer group; ``p_ties``: the size of that peer group (doubled
      midrank = ``doubled_midrank(p_below, p_ties)``);
    - ``p_bucket``: the bucket, ``key DIV width`` when ``width`` is given,
      else ``key`` itself — group by it to reuse the window's partitioning;
    - one inclusive running ``SUM`` (ROWS frame) per ``sums`` entry
      ``name -> weight column``.

    An ordering is a dict with ``key`` (a non-negative integer column
    name), optional ``then`` (tie-breakers: names or sort Columns),
    ``desc`` (key order), ``width`` and ``sums``. Every ordering's bucket
    totals come from ONE collect (a GROUPING SETS pass), the only action
    this launches; outputs the caller never selects are pruned from the
    plan. Keys must be non-null and no bucket's weights all NULL: either
    raises ValueError."""
    specs = {p: _Ordering(**o) for p, o in orders.items()}
    buckets = [f"{p}_bucket" for p in specs]
    based = df.select(
        "*",
        *[
            (
                F.expr(f"`{o.key}` DIV {o.width}")
                if o.width
                else F.col(o.key).cast("long")
            ).alias(b)
            for b, o in zip(buckets, specs.values())
        ],
    )
    # grouping_id() is an aggregate expression (it loses its grouping
    # context in a later projection); bit k-1-i is CLEAR in the rows of
    # the grouping set of bucket i
    names, k = list(specs), len(specs)
    which = {(2**k - 1) & ~(1 << (k - 1 - i)): names[i] for i in range(k)}
    rows = (
        based.groupingSets(
            [[F.col(b)] for b in buckets], *[F.col(b) for b in buckets]
        )
        .agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(_col(w)).cast("long").alias(f"_{p}_{s}")
                for p, o in specs.items()
                for s, w in o.sums.items()
            ],
            F.grouping_id().alias("_gid"),
        )
        .collect()
    )
    totals: dict[str, dict[int, tuple]] = {p: {} for p in specs}
    for r in rows:
        p = which[r["_gid"]]
        b = r[f"{p}_bucket"]
        if b is None:
            raise ValueError(
                f"global_order: NULL key in {specs[p].key!r} (ordering "
                f"{p!r}) — keys must be non-null (filter or coalesce first)"
            )
        for s in specs[p].sums:
            if r[f"_{p}_{s}"] is None:
                raise ValueError(
                    f"global_order: bucket {b} has NULL total for sum "
                    f"{s!r} (all-NULL weight column) — coalesce the "
                    "weight to 0 or filter NULL rows first"
                )
        totals[p][b] = (r["_n"], *[r[f"_{p}_{s}"] for s in specs[p].sums])

    out, cols = based, []
    for (p, o), b in zip(specs.items(), buckets):
        carry_rows, acc = [], [0] * (1 + len(o.sums))
        for v in sorted(totals[p], reverse=o.desc):
            carry_rows.append((v, *acc))
            acc = [x + y for x, y in zip(acc, totals[p][v])]
        carry = [f"_{p}_c{j}" for j in range(len(acc))]
        # Arrow local relation: a LocalTableScan broadcast, no job to build
        out = out.join(
            F.broadcast(
                local_df(
                    spark,
                    carry_rows,
                    ", ".join(f"{c} long" for c in [b, *carry]),
                )
            ),
            b,
        )
        w = Window.partitionBy(b).orderBy(
            F.col(o.key).desc() if o.desc else F.col(o.key).asc(),
            *[_col(t) for t in o.then],
        )
        c_n = F.col(carry[0])
        cols += [
            (c_n + F.row_number().over(w)).alias(p),
            (c_n + F.rank().over(w) - 1).alias(f"{p}_below"),
            F.count(F.lit(1))
            .over(w.rangeBetween(Window.currentRow, Window.currentRow))
            .alias(f"{p}_ties"),
            F.col(b),
            *[
                (
                    F.col(c)
                    + F.sum(_col(wt)).over(
                        w.rowsBetween(Window.unboundedPreceding, 0)
                    )
                ).alias(s)
                for c, (s, wt) in zip(carry[1:], o.sums.items())
            ],
        ]
    return out.select(*[F.col(f"`{c}`") for c in df.columns], *cols)


def doubled_midrank(below: Column, ties: Column) -> Column:
    """Twice the midrank of a peer group of ``ties`` rows with ``below``
    rows strictly before it: ``2·below + ties + 1`` — always an integer,
    so rank statistics under ties stay exact in int64."""
    return 2 * below + ties + 1


def exclusive_carry_max(
    spark: SparkSession,
    df: DataFrame,
    bucket: str,
    value: Column,
    descending: bool = False,
) -> DataFrame:
    """Exclusive running MAX of ``value`` over buckets strictly before
    each bucket in bucket order (NULL carry for the first bucket) —
    max is associative, so ``global running max = max(carry, local
    running max)`` exactly. Same bounded collect and non-null bucket
    contract as :func:`global_order`. Powers skyline/frontier scans."""
    totals: dict[int, int] = {}
    for r in (
        df.groupBy(F.col(bucket).cast("long").alias("b"))
        .agg(F.max(value).cast("long").alias("m"))
        .collect()
    ):
        if r["b"] is None:
            raise ValueError(
                f"exclusive_carry_max: NULL key in bucket column {bucket!r}"
                " — buckets must be non-null (filter or coalesce first)"
            )
        if r["m"] is None:
            raise ValueError(
                f"exclusive_carry_max: bucket {r['b']} has NULL max "
                "(all-NULL value column) — filter NULL rows first"
            )
        totals[r["b"]] = r["m"]
    rows: list[tuple] = []
    acc: int | None = None
    for b in sorted(totals, reverse=descending):
        rows.append((b, acc))
        acc = totals[b] if acc is None else max(acc, totals[b])
    return local_df(spark, rows, f"{bucket} long, carry_max long")


def div_width(max_value: int, fanout: int = 1024) -> int:
    """Bucket width such that ``value DIV width`` has ≤ fanout+1 buckets
    over [0, max_value] — the monotone bucketing for arbitrary
    non-negative integer sort keys."""
    return max(1, max_value // fanout + 1)


def ntile_from_pos(pos: Column, n: int, k: int) -> Column:
    """Spark's NTILE(k) tile for the row at 1-based global position
    ``pos`` out of ``n`` rows — the closed form of the row-split rule
    (first ``n % k`` tiles get one extra row), so a two-phase global
    position reproduces ntile bit-for-bit without the global window.
    Requires n >= k (true for any corpus-scale input; the window form
    handles the degenerate case). Positions are exact through the
    double-precision floor up to 2^53 rows — far past any real table."""
    base, rem = n // k, n % k
    if base == 0:
        return pos.cast("long")
    cut = rem * (base + 1)
    return (
        F.when(pos <= cut, F.floor((pos - 1) / (base + 1)) + 1)
        .otherwise(rem + F.floor((pos - cut - 1) / base) + 1)
        .cast("long")
    )
