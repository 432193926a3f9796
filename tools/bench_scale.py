#!/usr/bin/env python
"""Scale-stress bench: generate synthetic order facts far beyond the sf0.1
fixtures (distributed spark.range generation — no driver loop), run the
engine's core operator shapes, and report rows/sec per scale so the
linearity claim in SCALE.md is measured, not asserted.

    PYTHONPATH=. python tools/bench_scale.py [n_rows ...]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.functions.money import cents
from databricks_sales_etl_pipeline_spark.session import get_spark, tune_shuffle_partitions
from databricks_sales_etl_pipeline_spark.sources.generator import gen_orders


def shapes(spark, df):
    """The core operator shapes over the generated fact table."""
    dim = spark.createDataFrame(
        [(c,) for c in ["Elettronica", "Abbigliamento", "Casa", "Sport", "Libri"]],
        "category string",
    ).withColumn("cat_id", F.monotonically_increasing_id())
    yield "scan_agg", lambda: df.agg(
        F.count(F.lit(1)), F.sum(cents(F.col("quantity") * F.col("price")))
    ).collect()
    yield "group_agg", lambda: df.groupBy("category", "city").agg(
        F.count(F.lit(1)), F.sum(cents("price")), F.countDistinct("customer_id")
    ).collect()
    yield "broadcast_join_agg", lambda: df.join(
        F.broadcast(dim), "category"
    ).groupBy("cat_id").agg(F.count(F.lit(1))).collect()
    yield "window_topn", lambda: df.select(
        "customer_id",
        "order_id",
        F.row_number()
        .over(Window.partitionBy("customer_id").orderBy(F.desc("price"), "order_id"))
        .alias("rn"),
    ).where("rn <= 3").count()


def main() -> None:
    sizes = [int(float(a)) for a in sys.argv[1:]] or [600_000, 6_000_000, 20_000_000]
    spark = get_spark("dsep-scale")
    results = []
    for n in sizes:
        tune_shuffle_partitions(spark, input_bytes=n * 60)  # ~60B/row estimate
        path = tempfile.mkdtemp(prefix="dsep_scale_")
        t0 = time.perf_counter()
        gen_orders(spark, n=n, n_customers=max(200, n // 100)).write.mode(
            "overwrite"
        ).parquet(path)
        gen_s = time.perf_counter() - t0
        df = spark.read.parquet(path)
        timings = {}
        for name, fn in shapes(spark, df):
            t0 = time.perf_counter()
            fn()
            timings[name] = round(time.perf_counter() - t0, 2)
        shutil.rmtree(path, ignore_errors=True)
        results.append(
            {
                "rows": n,
                "generate_write_sec": round(gen_s, 2),
                "timings_sec": timings,
                "group_agg_mrows_per_sec": round(n / timings["group_agg"] / 1e6, 1),
            }
        )
        print(json.dumps(results[-1]))
    print(json.dumps({"scale_results": results}))


if __name__ == "__main__":
    main()
