"""Money arithmetic with cross-engine float parity.

The reference stores money as ``double`` and rounds with ``round(x, 2)``
(`01_project_setup_and_ingestion.py:164`, `02_business_transformation_gold.py:56`).
Two hazards when an external engine (the DuckDB oracle) must reproduce our
numbers bit-for-bit:

1. double SUM is not associative — a 32-partition Spark sum and DuckDB's
   sequential sum can differ in the last ulp, enough to flip 2-dp rounding.
2. Spark's ``round(double, 2)`` rounds the *shortest decimal repr* (via
   BigDecimal) while DuckDB rounds the binary value — they disagree on
   values like 2.675 (binary 2.67499999…).

So: aggregate money as exact integer cents (order-independent), and produce
cents with ``FLOOR(x*100 + 0.5)`` — the same IEEE ops in every engine, no
rounding-mode ambiguity. Ties round half up toward +inf for negative values
too (the fixture's ``c_acctbal``/``s_acctbal`` go below zero: -2.675 →
-267 cents), identically in Spark, DuckDB and numpy. Convert back to 2-dp
doubles only per-row post-aggregation (``cents/100.0`` is a
correctly-rounded division for |cents| < 2^53). This module is the only
place the rule is written: :func:`cents` (Spark), :func:`cents_sql` (SQL
text, DuckDB and Spark SQL alike) and :func:`py_cents` (Python/numpy).
See SURVEY §5.3 / §5.2.4.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column | str) -> Column:
    """double euros → exact bigint cents (ties half up toward +inf)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 100 + 0.5)


def cents_sql(expr: str) -> str:
    """SQL twin of :func:`cents` — identical IEEE expression tree."""
    return f"CAST(FLOOR(({expr}) * 100 + 0.5) AS BIGINT)"


def py_cents(x) -> np.ndarray:
    """Python twin of :func:`cents` over a scalar, list, Series or array."""
    return np.floor(np.asarray(x, dtype="float64") * 100 + 0.5).astype("int64")


def sum_bigint_sql(expr: str) -> str:
    """DuckDB integer-SUM with driver-safe typing.

    DuckDB ``SUM`` over ANY integer type returns HUGEINT, which the
    driver's pandas canonicalizer (`.df()`) coerces to float64 ("6.0"),
    while Spark's ``SUM(BIGINT)`` stays int64 ("6") — a guaranteed
    value-hash mismatch (the round-1 systematic failure class). Every
    integer-typed oracle aggregate that is emitted RAW (not divided into a
    double) must go through this wrapper."""
    return f"CAST(SUM({expr}) AS BIGINT)"


def euros(cents_col: Column | str) -> Column:
    """bigint cents → 2-dp double euros."""
    c = F.col(cents_col) if isinstance(cents_col, str) else cents_col
    return c / F.lit(100.0)


def euros_sql(expr: str) -> str:
    return f"(({expr}) / 100.0)"


def money2(col: Column | str) -> Column:
    """Round a double to 2 dp (ties toward +inf), oracle-reproducibly
    (= the reference's ``round(x, 2)`` at `01:164` without the BigDecimal
    shortest-repr hazard)."""
    return euros(cents(col))


def money2_sql(expr: str) -> str:
    return euros_sql(cents_sql(expr))
