"""Arbitrary-table meta-feature extraction — the reference's core use
case (`MFE().fit(X).extract()` over ANY tabular dataset) demonstrated
against a table the engine does not otherwise touch: TPC-H lineitem.

One row out per meta-feature, long format ``(mtf_name, mtf_val)``,
reference semantics throughout:

- per-attribute mean / sd (ddof=1) / e1071 method-3 skewness &
  kurtosis, summarized across attributes with pymfe's default mean+sd
  summary pair;
- cov / cor as the ABS lower triangle of the covariance / correlation
  matrix (statistical.py:410-498), summarized the same way;
- general scalars nr_inst / nr_attr / attr_to_inst / inst_to_attr.

Any number of columns from 2 up. A value undefined for the data (sd
and cov of a 1-row group; skewness, kurtosis and cor of a constant
column) is null, and so is its summary: functions/moments.py's
degenerate-input rule.

Plan shape (the whole-table analogue of the per-conversation SQL
tier): ONE partial-aggregated pass for the 1-row means, a second pass
for central/cross moments against the broadcast means, then every
meta-feature is a scalar expression over the single moment row —
nothing but two 1-row exchanges regardless of table size. The moment
aggregates and the meta-feature rows are built once (``_central_aggs``,
``_meta_rows``) for both engines, Spark Columns and the oracle's SQL
text, so both evaluate the identical float tree; outputs round at 4
decimals (global float aggregation agrees across engines to ~1 ulp —
BENCH.md "Correctness at scale").

Known benign log line: the FINAL explode projection (16 struct fields,
each inlining the fixed-order float trees) exceeds Janino's method-size
limit, so Spark logs ``ERROR CodeGenerator: Failed to compile`` once
and interprets THAT OPERATOR ONLY. It runs on one row per group, so the
fallback costs microseconds at any input scale; the scan-side
aggregations still whole-stage-codegen."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pymfe_spark.functions.moments import (
    COL,
    SQL,
    Engine,
    Sql,
    bessel,
    central_shape,
    correlation,
)
from pymfe_spark.plans.catalog import register

GROUP = "tabular"

NUM_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _central_aggs(d: list, avg) -> list[tuple[str, object]]:
    """(alias, aggregate) of the second pass: population m2/m3/m4 and
    cross moments of the deviations ``d`` (squares by multiplication)."""
    k = len(d)
    return [
        *[(f"m2_{i}", avg(d[i] * d[i])) for i in range(k)],
        *[(f"m3_{i}", avg(d[i] * d[i] * d[i])) for i in range(k)],
        *[(f"m4_{i}", avg(d[i] * d[i] * d[i] * d[i])) for i in range(k)],
        *[
            (f"cx_{i}_{j}", avg(d[i] * d[j]))
            for i, j in combinations(range(k), 2)
        ],
    ]


def _summary_exprs(vals, e: Engine):
    """mean and sd (ddof=1) over a fixed-order list of scalar
    expressions, written as explicit sequential expressions (no
    aggregation node — identical float tree on both engines; squares by
    multiplication, as pow's libm path is not guaranteed identical)."""
    n = len(vals)
    mean = sum(vals[1:], vals[0]) / float(n)
    var = (
        sum(
            ((v - mean) * (v - mean) for v in vals[1:]),
            (vals[0] - mean) * (vals[0] - mean),
        )
        / float(n - 1)
    )
    return mean, e.sqrt(var)


def _meta_rows(k: int, e: Engine) -> list[tuple[str, object]]:
    """(mtf_name, expression) rows over the one moment row of ``k``
    attributes — columns n, mu{i}, m2_{i}, m3_{i}, m4_{i}, cx_{i}_{j} —
    built once for both engines. nr_attr is a literal, left to the
    caller."""
    n = e.col("n")
    bes = bessel(n, e)
    m2 = [e.col(f"m2_{i}") for i in range(k)]
    shapes = [
        central_shape(n, m2[i], e.col(f"m3_{i}"), e.col(f"m4_{i}"), e)
        for i in range(k)
    ]
    cx = {(i, j): e.col(f"cx_{i}_{j}") for i, j in combinations(range(k), 2)}
    cors = [e.abs(correlation(c, m2[i], m2[j], e)) for (i, j), c in cx.items()]
    rows = []
    for name, vals in (
        ("mean", [e.col(f"mu{i}") for i in range(k)]),
        ("sd", [e.sqrt(m * bes) for m in m2]),
        ("skewness", [s for s, _ in shapes]),
        ("kurtosis", [kt for _, kt in shapes]),
        ("cov", [e.abs(c * bes) for c in cx.values()]),
        ("cor", cors),
    ):
        m, s = _summary_exprs(vals, e)
        rows += [(f"{name}.mean", m), (f"{name}.sd", s)]
    return rows + [
        ("nr_inst", n),
        ("attr_to_inst", float(k) / n),
        ("inst_to_attr", n / float(k)),
    ]


def mfe_tabular(df: DataFrame, cols=NUM_COLS, by: str | None = None) -> DataFrame:
    """Long-format meta-feature vector of the numeric columns of an
    arbitrary DataFrame (see module doc). With ``by``, every group is
    its own pymfe dataset — the engine's core semantic inversion
    (thousands of fits in one plan) applied to any table: the two
    aggregation passes gain the group key (same shuffle count, keyed),
    and the means join becomes a broadcast equi-join on ``by``.

    Needs at least 2 columns: cov/cor and the across-attribute sd are
    undefined for fewer. A value undefined for a group's data (sd of a
    1-row group, skewness of a constant column) comes back null."""
    k = len(cols)
    if k < 2:
        raise ValueError(
            f"mfe_tabular needs at least 2 columns, got {k}: cov/cor and "
            "the across-attribute sd are undefined for fewer"
        )
    mu_aggs = [
        F.count("*").alias("n"),
        *[F.avg(c).alias(f"mu{i}") for i, c in enumerate(cols)],
    ]
    mu = df.groupBy(by).agg(*mu_aggs) if by else df.agg(*mu_aggs)
    d = [F.col(c) - F.col(f"mu{i}") for i, c in enumerate(cols)]
    joined = (
        df.join(F.broadcast(mu), by) if by else df.join(F.broadcast(mu))
    )
    mom_aggs = [
        F.max("n").cast("double").alias("n"),
        *[F.max(f"mu{i}").alias(f"mu{i}") for i in range(k)],
        *[a.alias(nm) for nm, a in _central_aggs(d, F.avg)],
    ]
    mom = joined.groupBy(by).agg(*mom_aggs) if by else joined.agg(*mom_aggs)
    rows = _meta_rows(k, COL) + [("nr_attr", F.lit(float(k)))]
    exploded = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(nm).alias("mtf_name"),
                    F.round(v, 4).alias("mtf_val"),
                )
                for nm, v in rows
            ]
        )
    ).alias("r")
    if by:
        out = mom.select(F.col(by), exploded)
        return out.select(by, "r.mtf_name", "r.mtf_val").orderBy(
            by, "mtf_name"
        )
    out = mom.select(exploded)
    return out.select("r.mtf_name", "r.mtf_val").orderBy("mtf_name")


def _tabular_oracle(by: str | None = None) -> str:
    k = len(NUM_COLS)
    mu_cols = ", ".join(
        f"avg({c}) AS mu{i}" for i, c in enumerate(NUM_COLS)
    )
    d = [Sql(f"(t.{c} - m.mu{i})") for i, c in enumerate(NUM_COLS)]
    mom_cols = ", ".join(
        [f"max(m.mu{i}) AS mu{i}" for i in range(k)]
        + [
            f"{a} AS {nm}"
            for nm, a in _central_aggs(d, lambda x: Sql(f"avg({x})"))
        ]
    )
    g = f"{by}, " if by else ""
    selects = [
        f"SELECT {g}'{nm}' AS mtf_name, round({v}, 4) AS mtf_val FROM mom"
        for nm, v in _meta_rows(k, SQL)
    ]
    selects.append(f"SELECT {g}'nr_attr', {float(k)} FROM mom")
    body = "\nUNION ALL ".join(selects)
    if by:
        return f"""
WITH mu AS (
  SELECT {by} AS grp, count(*) AS n, {mu_cols}
  FROM lineitem GROUP BY {by}
), mom AS (
  SELECT m.grp AS {by}, max(m.n)::DOUBLE AS n, {mom_cols}
  FROM lineitem t JOIN mu m ON t.{by} = m.grp
  GROUP BY m.grp
)
{body}
ORDER BY {by}, mtf_name
"""
    return f"""
WITH mu AS (
  SELECT count(*) AS n, {mu_cols} FROM lineitem
), mom AS (
  SELECT max(m.n)::DOUBLE AS n, {mom_cols}
  FROM lineitem t CROSS JOIN mu m
)
{body}
ORDER BY mtf_name
"""


@register(
    "mfe_tabular_lineitem",
    oracle=_tabular_oracle(),
    group=GROUP,
)
def mfe_tabular_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pymfe drop-in demo: meta-features of an arbitrary parquet
    table (lineitem's 4 numeric attributes)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(*NUM_COLS)
    return mfe_tabular(li)


@register(
    "mfe_tabular_by_returnflag",
    oracle=_tabular_oracle(by="l_returnflag"),
    group=GROUP,
)
def mfe_tabular_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped tabular extraction — every l_returnflag group is its own
    pymfe dataset, all fit in one plan (the engine's per-conversation
    inversion applied to an arbitrary table: 3 datasets here, millions
    at 100 TB, same two keyed exchanges)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", *NUM_COLS
    )
    return mfe_tabular(li, by="l_returnflag")
