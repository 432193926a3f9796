#!/usr/bin/env python
"""Scaling evidence for the two-phase global order: the
``functions/prefix.py::global_order`` kernel vs the global ordered window it
replaces, measured on synthetic data far beyond the fixtures (distributed
generation, no driver loops).

Shapes timed at each size:
  global   — row_number() OVER (ORDER BY v, id): ONE task does all the work
  twophase — global_order with v DIV width buckets: per-bucket row_number
             plus broadcast carries from one bounded collect

Both produce identical positions (tests/test_properties.py); the question
is wall-clock as rows grow.

Usage: PYTHONPATH=. python tools/bench_scale_prefix.py [sizes_csv]
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.functions.prefix import (
    div_width,
    global_order,
)
from databricks_sales_etl_pipeline_spark.session import get_spark


def main() -> None:
    sizes = [int(s) for s in (sys.argv[1].split(",") if len(sys.argv) > 1
                              else ["1000000", "10000000", "50000000"])]
    spark = get_spark("bench-prefix")
    spark.sparkContext.setLogLevel("ERROR")
    for n in sizes:
        df = (
            spark.range(n)
            .select(
                F.col("id"),
                F.xxhash64(F.col("id").cast("string")).bitwiseAND(F.lit((1 << 40) - 1)).alias("v"),
            )
            .localCheckpoint()
        )

        t0 = time.perf_counter()
        g = df.select(
            "id",
            F.row_number().over(Window.orderBy("v", "id")).alias("rk"),
        )
        g_cnt = g.agg(F.max("rk"), F.sum("rk")).collect()[0]
        t_global = time.perf_counter() - t0

        t0 = time.perf_counter()
        width = div_width((1 << 40) - 1, fanout=1024)
        tp = global_order(
            spark, df, {"rk": dict(key="v", then=["id"], width=width)}
        ).select("id", "rk")
        tp_cnt = tp.agg(F.max("rk"), F.sum("rk")).collect()[0]
        t_two = time.perf_counter() - t0

        assert tuple(g_cnt) == tuple(tp_cnt), (g_cnt, tp_cnt)
        print(
            f"rows={n:>9d}  global={t_global:7.2f}s  twophase={t_two:7.2f}s  "
            f"speedup={t_global / t_two:5.2f}x  (identical max/sum of ranks)",
            flush=True,
        )


if __name__ == "__main__":
    main()
