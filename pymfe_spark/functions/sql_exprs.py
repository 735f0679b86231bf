"""Reusable Column-expression builders for the SQL-tier measures.

Everything here compiles to built-in Catalyst expressions — JVM-side,
whole-stage-codegen friendly, no Python in the hot path. The estimator
choices replicate the reference semantics:

- geometric mean zero/negative guards
  (pymfe statistical.py:613-634).
- entropy base 2 over value frequencies
  (pymfe info_theory.py:158-180).

Moment finishers (sd, e1071 skewness/kurtosis, correlation) live in
functions/moments.py, once per engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def r(col: Column, digits: int = 6) -> Column:
    """Round for stable cross-engine value hashing."""
    return F.round(col, digits)


def epoch_us(ts: Column) -> Column:
    """Exact integer microseconds since epoch (matches DuckDB epoch_us)."""
    return F.unix_micros(ts)


def g_mean(col: Column) -> Column:
    """Geometric mean with the reference's guards: any negative -> null,
    any zero -> 0, else exp(mean(ln x))."""
    return (
        F.when(F.min(col) < 0, F.lit(None).cast("double"))
        .when(F.min(col) == 0, F.lit(0.0))
        .otherwise(F.exp(F.avg(F.log(col))))
    )


def h_mean(col: Column) -> Column:
    """Harmonic mean n / sum(1/x)."""
    return F.count(col) / F.sum(F.lit(1.0) / col)


def sparsity(col: Column) -> Column:
    """Per-column sparsity (n/distinct normalized to [0,1]),
    (/root/reference/pymfe/statistical.py:1368-1408):
    phi = (n/d - 1) / (n - 1)."""
    n = F.count(col).cast("double")
    d = F.count_distinct(col).cast("double")
    return (n / d - F.lit(1.0)) / F.nullif(n - F.lit(1.0), F.lit(0.0))
