"""Reusable Column-expression builders for the SQL-tier measures.

Everything here compiles to built-in Catalyst expressions — JVM-side,
whole-stage-codegen friendly, no Python in the hot path. The estimator
choices replicate the reference semantics:

- skewness/kurtosis: e1071 "method 3" variants
  (/root/reference/pymfe/_summary.py:146-270 — bias-adjusted rescale of
  the population moment estimators).
- geometric mean zero/negative guards
  (/root/reference/pymfe/statistical.py:613-634).
- sd/var with ddof=1 (/root/reference/pymfe/_summary.py:273-302).
- entropy base 2 over value frequencies
  (/root/reference/pymfe/info_theory.py:158-180).
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


def skewness_m3(m2: Column, m3: Column, n: Column) -> Column:
    """e1071 method-3 sample skewness from population central moments.

    b1 = g1 * ((n-1)/n)^1.5 with g1 = m3 / m2^1.5.
    """
    g1 = m3 / F.pow(F.nullif(m2, F.lit(0.0)), 1.5)
    return g1 * F.pow((n - F.lit(1)) / n, 1.5)


def kurtosis_m3(m2: Column, m4: Column, n: Column) -> Column:
    """e1071 method-3 kurtosis: b2 = (g2+3)(1-1/n)^2 - 3."""
    g2 = m4 / F.pow(F.nullif(m2, F.lit(0.0)), 2.0) - F.lit(3.0)
    return (g2 + F.lit(3.0)) * F.pow(F.lit(1.0) - F.lit(1.0) / n, 2.0) - F.lit(3.0)


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
