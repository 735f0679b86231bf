"""Drift monitors: has a feature's distribution moved between the
reference window (the first half of the observed time range) and the
current window (the second half)? Every monitor, batch and streaming,
is a configuration of four shared stages, each written once in Spark
and once as DuckDB oracle SQL:

==================  ===================  =============================
stage               Spark                oracle SQL
==================  ===================  =============================
midpoint split      ``_split``,          ``_split_cte``,
                    ``_values``          ``vals_win``
binning rule        ``bin_of``           ``_BINNED_CTE``
two-window counts   ``_counts``          ``_counts_cte``
smoothed PSI        ``smoothed_frac``,   the same code over ``SQL``
                    ``psi_term`` over    (and over ``PY`` for the
                    ``COL``              streaming profile and PSI)
==================  ===================  =============================

=====================  ========  ===========  ============  =======================
query / entry point    key       bins over    count spine   finisher
=====================  ========  ===========  ============  =======================
feature_drift_psi      text_len  ref. range   N_BINS bins   smoothed PSI
role_drift_psi         role      —            observed      smoothed PSI
feature_drift_ks       text_len  —            observed      cumulative window,
                                                            exact argmax
role_drift_chi2        role      —            observed      exact cell terms,
                                                            sorted fold
reference_bin_profile  text_len  ref. range   n_bins bins   smoothed ref. fractions
*_drift_bin_counts     text_len  profile      —             ``psi_from_counts``
                                 literals
=====================  ========  ===========  ============  =======================

(The last two rows live in ``streaming/drift.py``.) Population
Stability Index:

    PSI = sum_b (p_cur[b] - p_ref[b]) * ln(p_cur[b] / p_ref[b])

with the usual reading (< 0.1 stable, 0.1-0.25 moderate shift, > 0.25
action). Everything upstream of the division and ln is EXACT integer
arithmetic that both engines share:

- the window split is at the midpoint of the observed time range
  (``(min+max) // 2`` on epoch microseconds, integer in both engines);
- bin edges are equal-width over the REFERENCE window's [min, max], and
  values are clamped into that range BEFORE binning so the integer
  division never sees a negative numerator (Spark ``div`` truncates
  toward zero, DuckDB ``//`` floors; they agree only on non-negatives);
- a null numeric value is dropped after the split (its ``ts`` still places
  the midpoint), while a null category is one more key of the count table;
- Laplace-smoothed fractions (count plus one half, over n plus k
  halves, for k spine keys) keep every bin nonzero (empty-bin PSI is otherwise
  infinite), one IEEE division of an exact rational.

A degenerate window (e.g. every row at one timestamp, so the reference
half is empty) raises through the one guard on the count totals
instead of emitting NULL/NaN rows a monitor would read as "no drift".
PSI output is one row per bin or category (no pre-summed total: a
cross-engine float sum would depend on accumulation order; consumers
sum the rounded terms). Scale shape: the time span and the reference
range are 1-row broadcasts onto the scan, and only per-key counts
cross the wire. Reference analogue: pymfe has no drift surface; PSI,
KS and chi² are the published monitoring standards re-expressed over
the transcript feature columns.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pymfe_spark.functions.moments import COL, SQL, Engine
from pymfe_spark.functions.sql_exprs import epoch_us, r
from pymfe_spark.operators.base import TURNS_SQL, turns
from pymfe_spark.plans.catalog import register
from pymfe_spark.sources import transcripts, with_transcripts_cte

GROUP = "drift"

N_BINS = 10

# ------------------------------------------------ stage 1: midpoint split


def _split(df: DataFrame, key: Column, ts: Column) -> DataFrame:
    """``(key, is_ref)``: ``is_ref`` marks the rows strictly before the
    integer midpoint of ``ts``'s observed range in epoch µs. The 1-row
    span is a broadcast onto the scan."""
    # parquet ts loads as TIMESTAMP_NTZ; session tz is pinned UTC so
    # the cast is exact (same convention as operators/base.py)
    base = df.select(key.alias("key"), epoch_us(ts.cast("timestamp")).alias("us"))
    span = base.agg(F.min("us").alias("t_min"), F.max("us").alias("t_max"))
    return base.join(F.broadcast(span)).select(
        "key", (F.col("us") < F.expr("(t_min + t_max) div 2")).alias("is_ref")
    )


def _values(df: DataFrame, value: Column, ts: Column) -> DataFrame:
    """:func:`_split` of a numeric ``value`` as a long, null values dropped."""
    return _split(df, value.cast("long"), ts).where(F.col("key").isNotNull())


def _split_cte(key_sql: str, source: str) -> str:
    """``win(key, is_ref)``: SQL twin of :func:`_split`."""
    return f"""vals AS (
    SELECT {key_sql} AS key, epoch_us(ts) AS us FROM {source}
  ), span AS (
    SELECT min(us) AS t_min, max(us) AS t_max FROM vals
  ), win AS (
    SELECT key, us < (t_min + t_max) // 2 AS is_ref FROM vals, span
  )"""


# -------------------------------------------------- stage 2: binning rule


def bin_of(v: Column, lo: Any, hi: Any, n_bins: int = N_BINS) -> Column:
    """Equal-width bin ``0..n_bins-1`` of ``v`` over ``[lo, hi]``, with
    ``lo``/``hi`` Columns or ints: clamp, then exact int64 ``div``
    (never a rounded double quotient, so bins are bit-stable against
    the batch edges for any value magnitude)."""
    clamped = F.least(F.greatest(v, F.lit(lo)), F.lit(hi))
    return F.call_function("div", (clamped - lo) * n_bins, F.lit(hi - lo + 1))


def _binned(
    df: DataFrame, value: Column, ts: Column, n_bins: int = N_BINS
) -> tuple[DataFrame, DataFrame]:
    """``(key = bin, is_ref)`` binned over the reference half's range,
    and that 1-row range ``(l_min, l_max)``; null values are dropped."""
    w = _values(df, value, ts)
    rng = w.filter("is_ref").agg(
        F.min("key").alias("l_min"), F.max("key").alias("l_max")
    )
    binned = w.join(F.broadcast(rng)).select(
        bin_of(F.col("key"), F.col("l_min"), F.col("l_max"), n_bins).alias("key"),
        "is_ref",
    )
    return binned, rng


# ``binned(key, is_ref)`` from ``vals_win``: SQL twin of :func:`_binned`
_BINNED_CTE = f"""ref_range AS (
    SELECT min(key) AS l_min, max(key) AS l_max FROM vals_win WHERE is_ref
  ), binned AS (
    SELECT (least(greatest(key, l_min), l_max) - l_min) * {N_BINS}
             // (l_max - l_min + 1) AS key, is_ref
    FROM vals_win, ref_range
  )"""


# -------------------------------------------- stage 3: two-window counts


def _guard_split(tot: DataFrame) -> DataFrame:
    """Fail LOUDLY when the midpoint split leaves a half empty (e.g.
    every row shares one timestamp): a monitor must never read NULL or
    NaN as "no drift". ``assert_true`` is NULL when the predicate
    holds, so the filter keeps the 1-row totals on healthy data and
    raises at run time otherwise."""
    return tot.where(
        F.assert_true(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            F.lit(
                "degenerate drift window: the midpoint split left a half"
                " empty — check the input time range"
            ),
        ).isNull()
    )


def _counts(w: DataFrame, n_bins: int | None = None) -> DataFrame:
    """``(key, n_ref_key, n_cur_key, n_ref, n_cur, k)``: per-key counts
    of each half, zero-filled over the spine (bins ``0..n_bins-1``, or
    the observed keys when ``n_bins`` is None; a null key is one more
    observed key), with the guarded totals and the spine size k
    broadcast onto every row."""
    per = w.groupBy("key").agg(
        F.count(F.when(F.col("is_ref"), 1)).alias("n_ref_key"),
        F.count(F.when(~F.col("is_ref"), 1)).alias("n_cur_key"),
    )
    tot = _guard_split(
        per.agg(
            F.sum("n_ref_key").alias("n_ref"),
            F.sum("n_cur_key").alias("n_cur"),
            (F.lit(n_bins) if n_bins else F.count("*")).alias("k"),
        )
    )
    if n_bins:
        # at most n_bins count rows by construction: broadcast them
        per = (
            w.sparkSession.range(n_bins)
            .withColumnRenamed("id", "key")
            .join(F.broadcast(per), "key", "left")
            .select(
                "key",
                *(F.coalesce(c, F.lit(0)).alias(c) for c in ("n_ref_key", "n_cur_key")),
            )
        )
    return per.join(F.broadcast(tot))


def _counts_cte(src: str, n_bins: int | None = None) -> str:
    """``cells`` over ``src(key, is_ref)``: SQL twin of :func:`_counts`
    (no guard: the oracle only runs on healthy windows)."""
    spine = (
        f"(SELECT unnest(range({n_bins})) AS key) s LEFT JOIN per USING (key)"
        if n_bins
        else "per"
    )
    return f"""per AS (
    SELECT key, count(*) FILTER (WHERE is_ref) AS n_ref_key,
           count(*) FILTER (WHERE NOT is_ref) AS n_cur_key
    FROM {src} GROUP BY key
  ), tot AS (
    SELECT sum(n_ref_key) AS n_ref, sum(n_cur_key) AS n_cur,
           {n_bins or "count(*)"} AS k
    FROM per
  ), cells AS (
    SELECT key, coalesce(n_ref_key, 0) AS n_ref_key,
           coalesce(n_cur_key, 0) AS n_cur_key, n_ref, n_cur, k
    FROM {spine}, tot
  )"""


# ------------------------------------------ stage 4: smoothed-PSI finisher


def smoothed_frac(c: Any, n: Any, k: Any) -> Any:
    """Laplace-smoothed share of ``c`` in ``n`` over ``k`` spine keys,
    never zero, on any engine."""
    return (c + 0.5) / (n + k / 2.0)


def psi_term(p_ref: Any, p_cur: Any, e: Engine) -> Any:
    """One PSI term; nonnegative, as both factors share a sign."""
    return (p_cur - p_ref) * e.ln(p_cur / p_ref)


def _psi_exprs(e: Engine) -> dict[str, Any]:
    """The smoothed-PSI output columns over a ``_counts`` table."""
    p_ref, p_cur = (
        smoothed_frac(e.col(f"n_{h}_key"), e.col(f"n_{h}"), e.col("k"))
        for h in ("ref", "cur")
    )
    return {"ref_frac": p_ref, "cur_frac": p_cur, "psi_term": psi_term(p_ref, p_cur, e)}


def _psi(cells: DataFrame, key: Column) -> DataFrame:
    return cells.select(
        key,
        F.col("n_ref_key").cast("long").alias("n_ref"),
        F.col("n_cur_key").cast("long").alias("n_cur"),
        *(r(x).alias(name) for name, x in _psi_exprs(COL).items()),
    )


def _psi_oracle(key_alias: str, ctes: str) -> str:
    fracs = ",\n       ".join(
        f"round({x}, 6) AS {name}" for name, x in _psi_exprs(SQL).items()
    )
    return with_transcripts_cte(
        f"""
SELECT key AS {key_alias},
       cast(n_ref_key AS BIGINT) AS n_ref,
       cast(n_cur_key AS BIGINT) AS n_cur,
       {fracs}
FROM cells
""",
        extra_ctes=ctes,
    )


# ---------------------------------------------------------------- queries


def psi_bins(df: DataFrame, value: Column, ts: Column) -> DataFrame:
    """Per-bin PSI terms for ``value`` (must be integral-valued),
    splitting ``df`` into reference/current halves at the midpoint of
    ``ts``'s observed range. Works on any DataFrame; the registered
    query binds it to the turn table's text_len."""
    binned, _ = _binned(df, value, ts)
    return _psi(_counts(binned, N_BINS), F.col("key").cast("int").alias("bin"))


# ``vals_win``: SQL twin of :func:`_values` over the turns' text_len
_TEXT_LEN_WIN = f"""{TURNS_SQL},
  {_split_cte("cast(text_len AS BIGINT)", "turns")},
  vals_win AS (SELECT key, is_ref FROM win WHERE key IS NOT NULL)"""
_ROLE_WIN = _split_cte("role", "transcripts")


@register(
    "feature_drift_psi",
    oracle=_psi_oracle(
        "bin",
        f"{_TEXT_LEN_WIN}, {_BINNED_CTE}, {_counts_cte('binned', N_BINS)}",
    ),
    group=GROUP,
)
def feature_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of the text_len feature: first half of the time range
    (reference window) vs second half (current window). One row per
    bin; sum(psi_term) is the index."""
    t = turns(spark, sf_dir)
    return psi_bins(t, F.col("text_len"), F.col("ts"))


def psi_categories(df: DataFrame, cat: Column, ts: Column) -> DataFrame:
    """Categorical twin of :func:`psi_bins`: PSI over the observed
    category set (the spine), so a category present in only one window
    still gets a smoothed row; k is the category count."""
    return _psi(_counts(_split(df, cat, ts)), F.col("key").alias("cat"))


@register(
    "role_drift_psi",
    oracle=_psi_oracle("cat", f"{_ROLE_WIN}, {_counts_cte('win')}"),
    group=GROUP,
)
def role_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical PSI of the role distribution (reference vs current
    half of the time range), the C-view twin of feature_drift_psi."""
    return psi_categories(transcripts(spark, sf_dir), F.col("role"), F.col("ts"))


def _ks_numer(e: Engine) -> Any:
    """|cr·n_cur - cc·n_ref| over the cumulative counts, exact."""
    x, c = e.exact_int, e.col
    return e.abs(x(c("cr")) * x(c("n_cur")) - x(c("cc")) * x(c("n_ref")))


def _ks(e: Engine) -> Any:
    f, c = e.to_double, e.col
    return f(c("numer")) / (f(c("n_ref")) * f(c("n_cur")))


def ks_statistic(df: DataFrame, value: Column, ts: Column) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the reference
    and current halves of the time range, EXACT until the final
    division: D = max_v |F_ref(v) - F_cur(v)| is maximized over the
    integer numerator |cr·n_cur - cc·n_ref| (decimal(38,0) / HUGEINT,
    no float ever enters the argmax), so both engines agree on the
    maximizing value bit-for-bit; ties break to the smallest v.

    Scale shape: one exchange for per-value counts (cardinality =
    DISTINCT feature values, not rows; pre-bin a continuous feature
    first), a single-partition cumulative window over those distinct
    values (bounded by value cardinality, not data volume), and a
    TakeOrderedAndProject for the argmax. Output: one row
    (ks_at, n_ref, n_cur, ks)."""
    cw = Window.orderBy("key").rowsBetween(Window.unboundedPreceding, 0)
    return (
        _counts(_values(df, value, ts))
        .select(
            F.col("key").alias("ks_at"),
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            F.sum("n_ref_key").over(cw).alias("cr"),
            F.sum("n_cur_key").over(cw).alias("cc"),
        )
        .select("ks_at", "n_ref", "n_cur", _ks_numer(COL).alias("numer"))
        .orderBy(F.col("numer").desc(), F.col("ks_at").asc())
        .limit(1)
        .select("ks_at", "n_ref", "n_cur", r(_ks(COL)).alias("ks"))
    )


_KS_ORACLE = with_transcripts_cte(
    f"""
SELECT key AS ks_at,
       cast(n_ref AS BIGINT) AS n_ref,
       cast(n_cur AS BIGINT) AS n_cur,
       round({_ks(SQL)}, 6) AS ks
FROM (SELECT key, n_ref, n_cur, {_ks_numer(SQL)} AS numer FROM cum)
ORDER BY numer DESC, ks_at ASC
LIMIT 1
""",
    extra_ctes=f"""{_TEXT_LEN_WIN}, {_counts_cte("vals_win")}, cum AS (
    SELECT key, n_ref, n_cur,
           sum(n_ref_key) OVER (ORDER BY key
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
           sum(n_cur_key) OVER (ORDER BY key
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
    FROM cells
  )""",
)


@register(
    "feature_drift_ks",
    oracle=_KS_ORACLE,
    group=GROUP,
)
def feature_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic of text_len between the reference
    and current halves of the time range (see ks_statistic)."""
    t = turns(spark, sf_dir)
    return ks_statistic(t, F.col("text_len"), F.col("ts"))


def _chi2_term(h: str, e: Engine) -> Any:
    """(O - E)^2 / E of the ``h`` (ref or cur) cell of a category, as
    d^2 / (N·R·C) with the exact deviation d = O·N - R·C."""
    x, f, c = e.exact_int, e.to_double, e.col
    n, o, r_tot = c("n_ref") + c("n_cur"), c(f"n_{h}_key"), c(f"n_{h}")
    c_tot = c("n_ref_key") + c("n_cur_key")
    d = f(x(o) * x(n) - x(r_tot) * x(c_tot))
    return d * d / (f(n) * f(r_tot) * f(c_tot))


def chi2_homogeneity(df: DataFrame, cat: Column, ts: Column) -> DataFrame:
    """Two-sample chi-squared homogeneity statistic between the
    reference/current halves: chi2 = sum over the 2k cells of
    (O - E)^2 / E with E = row_total * col_total / N. A category absent
    from one window still owes its zero cell's term.

    Exactness: each cell's deviation d = O*N - R*C is exact
    decimal(38,0)/HUGEINT; only then does one double conversion feed
    the term d^2 / (N*R*C), and the 2k-cell sum folds sequentially over
    the (category, is_ref)-sorted list so both engines accumulate in
    the same order. Output: one row (k, n_ref, n_cur, chi2, dof)."""
    # per category, the is_ref = false cell sorts before the true one;
    # a null category sorts first, as in the oracle
    cells = F.struct(
        "key",
        _chi2_term("cur", COL).alias("t_cur"),
        _chi2_term("ref", COL).alias("t_ref"),
    )
    return (
        _counts(_split(df, cat, ts))
        .groupBy("n_ref", "n_cur", "k")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(cells)),
                F.lit(0.0),
                lambda acc, x: acc + x["t_cur"] + x["t_ref"],
            ).alias("chi2_raw")
        )
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            r(F.col("chi2_raw")).alias("chi2"),
            (F.col("k") - 1).cast("long").alias("dof"),
        )
    )


_CHI2_ORACLE = with_transcripts_cte(
    f"""
SELECT cast(k AS BIGINT) AS k,
       cast(n_ref AS BIGINT) AS n_ref,
       cast(n_cur AS BIGINT) AS n_cur,
       round(list_aggregate(flatten(list(
         [{_chi2_term("cur", SQL)},
          {_chi2_term("ref", SQL)}] ORDER BY key NULLS FIRST
       )), 'sum'), 6) AS chi2,
       cast(k - 1 AS BIGINT) AS dof
FROM cells
GROUP BY k, n_ref, n_cur
""",
    extra_ctes=f"{_ROLE_WIN}, {_counts_cte('win')}",
)


@register(
    "role_drift_chi2",
    oracle=_CHI2_ORACLE,
    group=GROUP,
)
def role_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample chi-squared homogeneity of the role distribution
    between the reference and current halves (see chi2_homogeneity)."""
    return chi2_homogeneity(transcripts(spark, sf_dir), F.col("role"), F.col("ts"))
