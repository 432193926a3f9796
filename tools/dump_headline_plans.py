#!/usr/bin/env python
"""Dump .explain('formatted') for the bench headline queries (or a named
subset) to <out_dir>/<query>_<suffix>.txt — the before/after plan evidence
a performance change commits beside its numbers (plans/r13, plans/r14).

Usage:
    PYTHONPATH=. python tools/dump_headline_plans.py <out_dir> before [name ...]
    PYTHONPATH=. python tools/dump_headline_plans.py <out_dir> after  [name ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from databricks_sales_etl_pipeline_spark.registry import QUERIES, load_all  # noqa: E402
from databricks_sales_etl_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    import bench

    names = sys.argv[3:] or bench.HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    load_all()
    spark = get_spark("dsep-plan-dump")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange lines)")


if __name__ == "__main__":
    main()
