"""Per-conversation meta-feature aggregates — the pure-SQL tier.

Each query treats one conversation as one pymfe "dataset" (SURVEY.md
§1.2): the reference fits exactly one in-memory matrix per call
(/root/reference/pymfe/mfe.py:904-1177); here thousands of
conversations aggregate in parallel with map-side partial aggregation
and a single shuffle on ``conv_id``. Everything is built-in Catalyst
expressions — no Python in the hot path, whole-stage codegen end to
end.

Scale notes (100 TB design):
- every query below is `scan -> partial agg -> exchange(conv_id) ->
  final agg`; AQE coalesces post-shuffle partitions.
- multi-level stats (central moments, MAD, trimmed mean) join the
  per-conv mean back to the turns; both sides hash-partition on
  ``conv_id`` so the join adds no extra exchange.
- nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pymfe_spark.functions.moments import COL, SQL, Sql, central_shape
from pymfe_spark.functions.sql_exprs import g_mean, h_mean, r, sparsity
from pymfe_spark.operators.base import TURNS_SQL, turns
from pymfe_spark.operators.conv_info import ROLE_FREQ_SQL, class_counts, freq
from pymfe_spark.plans.catalog import register
from pymfe_spark.sources import with_transcripts_cte

GROUP = "metafeature-sql"

# ---------------------------------------------------------------------
# general group (/root/reference/pymfe/general.py — 11 measures)
# ---------------------------------------------------------------------

_GENERAL_ORACLE = with_transcripts_cte(
    """
SELECT g.conv_id,
       cast(g.nr_inst AS bigint)           AS nr_inst,
       cast(g.nr_class AS bigint)          AS nr_class,
       cast(tl.nr_tool AS bigint)          AS nr_tool,
       round(4.0 / g.nr_inst, 6)           AS attr_to_inst,
       round(g.nr_inst / 4.0, 6)           AS inst_to_attr,
       round(g.freq_class_mean, 6)         AS freq_class_mean,
       round(g.freq_class_sd, 6)           AS freq_class_sd
FROM g JOIN tl ON g.conv_id = tl.conv_id
""",
    extra_ctes=f"""
 g AS (SELECT conv_id, sum(c) AS nr_inst, count(*) AS nr_class,
              avg(p) AS freq_class_mean, stddev_samp(p) AS freq_class_sd
       FROM ({ROLE_FREQ_SQL}) GROUP BY conv_id),
 tl AS (SELECT conv_id, count(DISTINCT tool) AS nr_tool
        FROM transcripts GROUP BY conv_id)""",
)


@register("mf_general", oracle=_GENERAL_ORACLE, group=GROUP)
def mf_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    """general group: nr_inst / nr_class / freq_class stats per conv.

    Parity: nr_inst general.py:318-337, nr_class general.py:287-315,
    freq_class general.py:153-184, attr_to_inst general.py:88-110
    (d=4 derived attributes: text_len, ts_delta_s, turn_idx, role).
    nr_tool is count(DISTINCT tool) on its own scan (a null tool is no
    tool): folding it from a joint table would add a shuffle.
    """
    t = turns(spark, sf_dir)
    g = freq(class_counts(t, "role")).groupBy("conv_id").agg(
        F.sum("c").alias("nr_inst"),
        F.count("*").alias("nr_class"),
        F.avg("p").alias("freq_class_mean"),
        F.stddev_samp("p").alias("freq_class_sd"),
    )
    tl = t.groupBy("conv_id").agg(F.count_distinct("tool").alias("nr_tool"))
    return g.join(tl, "conv_id").select(
        "conv_id",
        "nr_inst",
        "nr_class",
        "nr_tool",
        r(F.lit(4.0) / F.col("nr_inst")).alias("attr_to_inst"),
        r(F.col("nr_inst") / F.lit(4.0)).alias("inst_to_attr"),
        r("freq_class_mean").alias("freq_class_mean"),
        r("freq_class_sd").alias("freq_class_sd"),
    )


# ---------------------------------------------------------------------
# statistical group — basic moments
# (/root/reference/pymfe/statistical.py:771-860,1114-1159,1439-1462)
# ---------------------------------------------------------------------

_CENTRAL_ORACLE = with_transcripts_cte(
    """
SELECT conv_id,
       count(*)                                   AS n,
       round(avg(text_len), 6)                    AS mean_len,
       round(quantile_cont(text_len, 0.5), 6)     AS median_len,
       round(min(text_len), 6)                    AS min_len,
       round(max(text_len), 6)                    AS max_len,
       round(max(text_len) - min(text_len), 6)    AS range_len,
       round(stddev_samp(text_len), 6)            AS sd_len,
       round(var_samp(text_len), 6)               AS var_len
FROM turns GROUP BY conv_id
""",
    extra_ctes=TURNS_SQL,
)


@register("mf_stat_central", oracle=_CENTRAL_ORACLE, group=GROUP)
def mf_stat_central(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mean/median/min/max/range/sd/var of text_len per conversation.

    Parity: statistical.py mean 794-814, median 817-837, min 840-860,
    max 771-791, range 1114-1133, sd 1136-1159 (ddof=1), var 1439-1462.
    """
    return (
        turns(spark, sf_dir)
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n"),
            r(F.avg("text_len")).alias("mean_len"),
            r(F.percentile("text_len", 0.5)).alias("median_len"),
            r(F.min("text_len")).alias("min_len"),
            r(F.max("text_len")).alias("max_len"),
            r(F.max("text_len") - F.min("text_len")).alias("range_len"),
            r(F.stddev_samp("text_len")).alias("sd_len"),
            r(F.var_samp("text_len")).alias("var_len"),
        )
    )


# ---------------------------------------------------------------------
# statistical group — robust stats (MAD / trimmed / g_mean / h_mean /
# IQR / sparsity)
# ---------------------------------------------------------------------

_ROBUST_ORACLE = with_transcripts_cte(
    """
SELECT q.conv_id,
       round(q.q3 - q.q1, 6)                      AS iq_range,
       round(m.mad_raw * 1.4826, 6)               AS mad,
       round(tm.t_mean, 6)                        AS t_mean,
       round(gh.g_mean, 6)                        AS g_mean,
       round(gh.h_mean, 6)                        AS h_mean,
       round(gh.sparsity, 6)                      AS sparsity
FROM q
JOIN m  ON q.conv_id = m.conv_id
JOIN tm ON q.conv_id = tm.conv_id
JOIN gh ON q.conv_id = gh.conv_id
""",
    extra_ctes=TURNS_SQL
    + """,
 q AS (SELECT conv_id, count(*) AS n,
              quantile_cont(text_len, 0.25) AS q1,
              quantile_cont(text_len, 0.50) AS med,
              quantile_cont(text_len, 0.75) AS q3
       FROM turns GROUP BY conv_id),
 m AS (SELECT t.conv_id, quantile_cont(abs(t.text_len - q.med), 0.5) AS mad_raw
       FROM turns t JOIN q ON t.conv_id = q.conv_id GROUP BY t.conv_id),
 rk AS (SELECT t.conv_id, t.text_len, q.n,
               row_number() OVER (PARTITION BY t.conv_id ORDER BY t.text_len) AS rn
        FROM turns t JOIN q ON t.conv_id = q.conv_id),
 tm AS (SELECT conv_id, avg(text_len) AS t_mean
        FROM rk
        WHERE rn > floor(n * 0.2) AND rn <= n - floor(n * 0.2)
        GROUP BY conv_id),
 gh AS (SELECT conv_id,
               CASE WHEN min(text_len) < 0 THEN NULL
                    WHEN min(text_len) = 0 THEN 0.0
                    ELSE exp(avg(ln(text_len))) END AS g_mean,
               count(*) / sum(1.0 / text_len) AS h_mean,
               (count(*) * 1.0 / count(DISTINCT text_len) - 1.0)
                 / nullif(count(*) - 1.0, 0.0) AS sparsity
        FROM turns GROUP BY conv_id)""",
)


@register(
    "mf_stat_robust",
    oracle=_ROBUST_ORACLE,
    group=GROUP,
    gate_oracle=False,  # r5 rotation out: recorded 4/4 rounds; pytest enforces
)
def mf_stat_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR / MAD / trimmed mean / geometric / harmonic mean / sparsity.

    Parity: iq_range statistical.py:659-678, mad 741-768 (x1.4826),
    t_mean 1411-1436 (20% both tails, positional trim on the sorted
    column — ties interchangeable), g_mean 584-634 (zero/neg guards),
    h_mean 637-656, sparsity 1368-1408.
    """
    t = turns(spark, sf_dir).select("conv_id", "text_len")
    q = t.groupBy("conv_id").agg(
        F.count("*").alias("n"),
        F.percentile("text_len", 0.25).alias("q1"),
        F.percentile("text_len", 0.5).alias("med"),
        F.percentile("text_len", 0.75).alias("q3"),
    )
    j = t.join(q, "conv_id")
    m = j.groupBy("conv_id").agg(
        F.percentile(F.abs(F.col("text_len") - F.col("med")), 0.5).alias("mad_raw")
    )
    rk = j.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("conv_id").orderBy("text_len")),
    )
    tm = (
        rk.filter(
            (F.col("rn") > F.floor(F.col("n") * 0.2))
            & (F.col("rn") <= F.col("n") - F.floor(F.col("n") * 0.2))
        )
        .groupBy("conv_id")
        .agg(F.avg("text_len").alias("t_mean"))
    )
    gh = t.groupBy("conv_id").agg(
        g_mean(F.col("text_len")).alias("g_mean"),
        h_mean(F.col("text_len")).alias("h_mean"),
        sparsity(F.col("text_len")).alias("sparsity"),
    )
    return (
        q.join(m, "conv_id")
        .join(tm, "conv_id")
        .join(gh, "conv_id")
        .select(
            "conv_id",
            r(F.col("q3") - F.col("q1")).alias("iq_range"),
            r(F.col("mad_raw") * 1.4826).alias("mad"),
            r("t_mean").alias("t_mean"),
            r("g_mean").alias("g_mean"),
            r("h_mean").alias("h_mean"),
            r("sparsity").alias("sparsity"),
        )
    )


# ---------------------------------------------------------------------
# statistical group — shape (e1071 method-3 skewness / kurtosis)
# (/root/reference/pymfe/statistical.py:681-738,1310-1365;
#  formulas /root/reference/pymfe/_summary.py:146-270)
# ---------------------------------------------------------------------

_SHAPE_ORACLE = with_transcripts_cte(
    """
SELECT conv_id,
       cast(n AS bigint) AS n,
       round({0}, 6) AS skewness,
       round({1}, 6) AS kurtosis
FROM mom
""".format(*central_shape(*map(Sql, ("n", "m2", "m3", "m4")), SQL)),
    extra_ctes=TURNS_SQL
    + """,
 mu AS (SELECT conv_id, count(*) AS n, avg(text_len) AS mean_x
        FROM turns GROUP BY conv_id),
 mom AS (SELECT t.conv_id,
                max(m.n) AS n,
                avg(pow(t.text_len - m.mean_x, 2)) AS m2,
                avg(pow(t.text_len - m.mean_x, 3)) AS m3,
                avg(pow(t.text_len - m.mean_x, 4)) AS m4
         FROM turns t JOIN mu m ON t.conv_id = m.conv_id
         GROUP BY t.conv_id)""",
)


@register("mf_stat_shape", oracle=_SHAPE_ORACLE, group=GROUP)
def mf_stat_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e1071 method-3 skewness/kurtosis of text_len per conversation.

    Central moments computed against the joined-back mean (no E[x^k]
    cancellation), finished by functions/moments.py ``central_shape``;
    null for a 1-turn or constant conversation."""
    t = turns(spark, sf_dir).select("conv_id", "text_len")
    mu = t.groupBy("conv_id").agg(
        F.count("*").alias("n"), F.avg("text_len").alias("mean_x")
    )
    d = F.col("text_len") - F.col("mean_x")
    mom = (
        t.join(mu, "conv_id")
        .groupBy("conv_id")
        .agg(
            F.max("n").alias("n"),
            F.avg(F.pow(d, 2)).alias("m2"),
            F.avg(F.pow(d, 3)).alias("m3"),
            F.avg(F.pow(d, 4)).alias("m4"),
        )
    )
    skew, kurt = central_shape(
        F.col("n").cast("double"), *map(F.col, ("m2", "m3", "m4")), COL
    )
    return mom.select(
        "conv_id",
        F.col("n"),
        r(skew).alias("skewness"),
        r(kurt).alias("kurtosis"),
    )


# ---------------------------------------------------------------------
# statistical group — bivariate: cor / cov / nr_outliers
# (/root/reference/pymfe/statistical.py:410-498,1068-1111)
# ---------------------------------------------------------------------

_BIVAR_ORACLE = with_transcripts_cte(
    """
SELECT c.conv_id,
       round(c.cor, 6)          AS cor,
       round(c.cov, 6)          AS cov,
       cast(o.nr_outliers AS bigint) AS nr_outliers
FROM c JOIN o ON c.conv_id = o.conv_id
""",
    extra_ctes=TURNS_SQL
    + """,
 c AS (SELECT conv_id,
              corr(text_len, ts_delta_s)       AS cor,
              -- exact-integer covariance: x and delta-us are integers,
              -- so the three sums are exact; the float divisions then
              -- run in the same order as the Spark side (bit-identical
              -- at any scale, unlike covar_samp's engine-specific
              -- updating accumulation). HUGEINT accumulation: a
              -- months-scale gap times a long turn overflows int64;
              -- Spark mirrors with decimal(38,0)
              (cast(sum(xl::HUGEINT * yus) AS double)
               - cast(sum(xl)::HUGEINT * sum(yus) AS double) / count(*))
              / nullif(count(*) - 1, 0) / 1e6    AS cov
       FROM (SELECT conv_id, text_len, ts_delta_s,
                    cast(text_len AS bigint) AS xl,
                    cast(round(ts_delta_s * 1e6, 0) AS bigint) AS yus
             FROM turns WHERE ts_delta_s IS NOT NULL) turns
       GROUP BY conv_id),
 q AS (SELECT conv_id,
              quantile_cont(text_len, 0.25)   AS q1a,
              quantile_cont(text_len, 0.75)   AS q3a,
              quantile_cont(ts_delta_s, 0.25) AS q1b,
              quantile_cont(ts_delta_s, 0.75) AS q3b
       FROM turns GROUP BY conv_id),
 o AS (SELECT t.conv_id,
              cast(max(CASE WHEN t.text_len < q.q1a - 1.5*(q.q3a-q.q1a)
                             OR t.text_len > q.q3a + 1.5*(q.q3a-q.q1a)
                            THEN 1 ELSE 0 END) +
                   max(CASE WHEN t.ts_delta_s < q.q1b - 1.5*(q.q3b-q.q1b)
                             OR t.ts_delta_s > q.q3b + 1.5*(q.q3b-q.q1b)
                            THEN 1 ELSE 0 END) AS int) AS nr_outliers
       FROM turns t JOIN q ON t.conv_id = q.conv_id
       GROUP BY t.conv_id)""",
)


@register(
    "mf_stat_bivar",
    oracle=_BIVAR_ORACLE,
    group=GROUP,
    gate_oracle=False,  # r5 rotation out: recorded 4/4 rounds; pytest enforces
)
def mf_stat_bivar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance of (text_len, ts_delta_s)
    and boxplot-outlier column count (whis=1.5).

    Parity: cor statistical.py:410-450, cov 453-498 (ddof=1),
    nr_outliers 1068-1111. Null ts_delta_s pairs (first turns) are
    skipped by corr/covar in both engines.
    """
    t = turns(spark, sf_dir)
    tnn = t.filter(F.col("ts_delta_s").isNotNull()).select(
        "conv_id",
        F.col("text_len").cast("long").alias("xl"),
        F.round(F.col("ts_delta_s") * 1e6, 0).cast("long").alias("yus"),
        "ts_delta_s",
        "text_len",
    )
    # cov from exact integer sums with the oracle's float-op order (see
    # the oracle CTE comment); corr stays on the builtin — the
    # normalization divides the accumulation noise out. The products
    # and their sums accumulate as decimal(38,0) (oracle: HUGEINT):
    # int64 wraps silently in non-ANSI Spark while DuckDB's checked
    # multiply errors, so exactness would otherwise break on
    # months-scale gaps x long turns.
    n = F.count("*")
    dec = "decimal(38,0)"
    prod = F.col("xl").cast("decimal(19,0)") * F.col("yus").cast("decimal(19,0)")
    cov = (
        (
            F.sum(prod).cast("double")
            - (F.sum("xl").cast(dec) * F.sum("yus").cast(dec)).cast("double") / n
        )
        / F.nullif((n - 1).cast("double"), F.lit(0.0))
        / 1e6
    )
    c = tnn.groupBy("conv_id").agg(
        F.corr("text_len", "ts_delta_s").alias("cor"),
        cov.alias("cov"),
    )
    q = t.groupBy("conv_id").agg(
        F.percentile("text_len", 0.25).alias("q1a"),
        F.percentile("text_len", 0.75).alias("q3a"),
        F.percentile("ts_delta_s", 0.25).alias("q1b"),
        F.percentile("ts_delta_s", 0.75).alias("q3b"),
    )

    def outlier(x: str, q1: str, q3: str):
        iqr = F.col(q3) - F.col(q1)
        return F.max(
            F.when(
                (F.col(x) < F.col(q1) - 1.5 * iqr)
                | (F.col(x) > F.col(q3) + 1.5 * iqr),
                1,
            ).otherwise(0)
        )

    o = (
        t.join(q, "conv_id")
        .groupBy("conv_id")
        .agg(
            (
                outlier("text_len", "q1a", "q3a")
                + outlier("ts_delta_s", "q1b", "q3b")
            )
            .cast("int")
            .alias("nr_outliers")
        )
    )
    return c.join(o, "conv_id").select(
        "conv_id",
        r("cor").alias("cor"),
        r("cov").alias("cov"),
        "nr_outliers",
    )
