"""Windowed / temporal operators — the north-rule additions.

The reference has no ordering concept (instances are exchangeable,
SURVEY.md §2.4); these operators are new engine surface required by
BASELINE.json:north_rule: stable turn ordering, lag/lead inter-turn
deltas, sessionization, expanding point-in-time features, rolling
frames, per-conversation top-k.

Every operator is a single Window over ``partitionBy(conv_id)
orderBy(turn_idx)`` — one shuffle, sorted once, all frames reuse the
sort. Point-in-time correctness: every expanding frame is
``rowsBetween(unboundedPreceding, currentRow)``, so no feature at
(conv_id, ts) ever reads a later turn (zero temporal leakage —
verified by tests/test_leakage.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pymfe_spark.functions.moments import COL, SQL, Sql, power_sum_stats
from pymfe_spark.functions.sql_exprs import r
from pymfe_spark.operators.base import TURNS_SQL, turns
from pymfe_spark.operators.conv_info import TOOL0_SQL, running_entropy, tool0
from pymfe_spark.plans.catalog import register
from pymfe_spark.sources import with_transcripts_cte

GROUP = "temporal"

SESSION_GAP_S = 1800.0


def _w():
    return Window.partitionBy("conv_id").orderBy("turn_idx")


# ---------------------------------------------------------------------
# lag / lead turn deltas
# ---------------------------------------------------------------------

_DELTAS_ORACLE = with_transcripts_cte(
    """
SELECT conv_id, turn_idx, role,
       round(ts_delta_s, 6) AS ts_delta_s,
       round(lead(ts_delta_s) OVER w, 6) AS next_ts_delta_s,
       lag(role) OVER w AS prev_role,
       round(text_len - lag(text_len) OVER w, 6) AS text_len_delta,
       round(lag(text_len, 2) OVER w, 6) AS text_len_lag2
FROM turns
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
""",
    extra_ctes=TURNS_SQL,
)


@register("turn_deltas", oracle=_DELTAS_ORACLE, group=GROUP)
def turn_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn lag/lead features: inter-turn gap, next gap, previous
    role, text-length delta, 2-step lag (north_star 'lag/lead features').
    """
    t = turns(spark, sf_dir)
    w = _w()
    return t.select(
        "conv_id",
        "turn_idx",
        "role",
        r("ts_delta_s").alias("ts_delta_s"),
        r(F.lead("ts_delta_s").over(w)).alias("next_ts_delta_s"),
        F.lag("role").over(w).alias("prev_role"),
        r(F.col("text_len") - F.lag("text_len").over(w)).alias("text_len_delta"),
        r(F.lag("text_len", 2).over(w)).alias("text_len_lag2"),
    )


# ---------------------------------------------------------------------
# sessionization: split on ts gap > threshold, running session id
# ---------------------------------------------------------------------

_SESSION_TURNS_SQL = (
    TURNS_SQL
    + f""",
 sess AS (
   SELECT conv_id, turn_idx, ts, text_len, ts_delta_s,
          sum(CASE WHEN ts_delta_s IS NULL OR ts_delta_s > {SESSION_GAP_S}
                   THEN 1 ELSE 0 END)
            OVER (PARTITION BY conv_id ORDER BY turn_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
   FROM turns)"""
)

_SESSIONIZE_ORACLE = with_transcripts_cte(
    """
SELECT conv_id, turn_idx, cast(session_id AS int) AS session_id
FROM sess
""",
    extra_ctes=_SESSION_TURNS_SQL,
)


def sessionized(spark: SparkSession, sf_dir: str, gap_s: float = SESSION_GAP_S) -> DataFrame:
    """turns + running session_id (gap > gap_s opens a new session)."""
    t = turns(spark, sf_dir)
    new_sess = F.when(
        F.col("ts_delta_s").isNull() | (F.col("ts_delta_s") > gap_s), 1
    ).otherwise(0)
    return t.withColumn(
        "session_id",
        F.sum(new_sess)
        .over(_w().rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"),
    )


@register(
    "sessionize_turns",
    oracle=_SESSIONIZE_ORACLE,
    group=GROUP,
    gate_oracle=False,  # r5 rotation out: recorded 4/4 rounds; pytest enforces
)
def sessionize_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn session assignment (north_star 'sessionized gap stats'):
    a new session opens when the inter-turn gap exceeds 1800 s. Running
    ``sum`` over the ordered conv window — batch equivalent of a
    streaming session window, no state store needed."""
    return sessionized(spark, sf_dir).select("conv_id", "turn_idx", "session_id")


_SESSION_STATS_ORACLE = with_transcripts_cte(
    """
SELECT conv_id, cast(session_id AS int) AS session_id,
       count(*)                                    AS n_turns,
       round(cast(epoch_us(max(ts)) - epoch_us(min(ts)) AS double) / 1e6, 6)
                                                   AS duration_s,
       round(floor(cast(epoch_us(max(ts)) - epoch_us(min(ts)) AS double)
                   / nullif(count(*) - 1, 0)) / 1e6, 6) AS mean_gap_s,
       round(avg(text_len), 6)                     AS mean_len
FROM sess
GROUP BY conv_id, session_id
""",
    extra_ctes=_SESSION_TURNS_SQL,
)


@register("session_stats", oracle=_SESSION_STATS_ORACLE, group=GROUP)
def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session aggregates: turn count, wall duration, mean in-session
    gap, mean text length.

    mean_gap_s uses the identity sum(in-session gaps) == max(us)-min(us)
    (every delta inside a session is <= the gap threshold by
    construction) and truncates the mean to whole microseconds: an odd
    span over 2 gaps lands EXACTLY on the 6th-decimal rounding boundary
    (x.xxxxxx5), where Spark rounds HALF_UP and DuckDB half-even —
    avg() over fractional seconds additionally drifted by summation
    order at sf0.1. floor over identical integer microseconds is
    bit-identical at any scale.
    """
    s = sessionized(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    span = (F.max("us") - F.min("us")).cast("double")
    return (
        s.withColumn("us", us)
        .groupBy("conv_id", "session_id")
        .agg(
            F.count("*").alias("n_turns"),
            r(span / 1e6).alias("duration_s"),
            r(
                F.floor(
                    span
                    / F.nullif((F.count("*") - 1).cast("double"), F.lit(0.0))
                )
                / 1e6
            ).alias("mean_gap_s"),
            r(F.avg("text_len")).alias("mean_len"),
        )
    )


# ---------------------------------------------------------------------
# expanding point-in-time features (backfill frame)
# ---------------------------------------------------------------------

_EXPANDING_ORACLE = with_transcripts_cte(
    """
SELECT conv_id, turn_idx,
       count(*)  OVER w                    AS cum_n,
       round(avg(text_len) OVER w, 6)      AS cum_mean_len,
       round(stddev_samp(text_len) OVER w, 6) AS cum_sd_len,
       round(max(text_len) OVER w, 6)      AS cum_max_len,
       round(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)
             OVER w * 1.0 / count(*) OVER w, 6) AS cum_tool_rate
FROM turns
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    extra_ctes=TURNS_SQL,
)


@register("expanding_pit", oracle=_EXPANDING_ORACLE, group=GROUP)
def expanding_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanding point-in-time features: at every turn, statistics over
    the prefix ts' <= ts only (north_star 'per-turn feature vectors',
    zero temporal leakage by frame construction)."""
    t = turns(spark, sf_dir)
    w = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return t.select(
        "conv_id",
        "turn_idx",
        F.count("*").over(w).alias("cum_n"),
        r(F.avg("text_len").over(w)).alias("cum_mean_len"),
        r(F.stddev_samp("text_len").over(w)).alias("cum_sd_len"),
        r(F.max("text_len").over(w)).alias("cum_max_len"),
        r(
            F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0)).over(w)
            / F.count("*").over(w)
        ).alias("cum_tool_rate"),
    )


# ---------------------------------------------------------------------
# rolling frame (last 5 turns)
# ---------------------------------------------------------------------

_ROLLING_ORACLE = with_transcripts_cte(
    """
SELECT conv_id, turn_idx,
       round(avg(text_len) OVER w, 6) AS roll5_mean_len,
       round(max(text_len) OVER w, 6) AS roll5_max_len,
       round(sum(coalesce(ts_delta_s, 0)) OVER w, 6) AS roll5_span_s
FROM turns
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""",
    extra_ctes=TURNS_SQL,
)


@register("rolling_window", oracle=_ROLLING_ORACLE, group=GROUP,
          # rotated out of the gate r3 (long-green); pytest enforces
          gate_oracle=False)
def rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 5-turn frame: mean/max text length and time span."""
    t = turns(spark, sf_dir)
    w = _w().rowsBetween(-4, Window.currentRow)
    return t.select(
        "conv_id",
        "turn_idx",
        r(F.avg("text_len").over(w)).alias("roll5_mean_len"),
        r(F.max("text_len").over(w)).alias("roll5_max_len"),
        r(F.sum(F.coalesce("ts_delta_s", F.lit(0.0))).over(w)).alias("roll5_span_s"),
    )


# ---------------------------------------------------------------------
# per-conversation top-k (sorts/limits tier, SURVEY.md §2.5)
# ---------------------------------------------------------------------

_TOPK_ORACLE = with_transcripts_cte(
    """
SELECT conv_id, turn_idx, round(text_len, 6) AS text_len, cast(rk AS int) AS rk
FROM (SELECT conv_id, turn_idx, text_len,
             row_number() OVER (PARTITION BY conv_id
                                ORDER BY text_len DESC, turn_idx ASC) AS rk
      FROM turns)
WHERE rk <= 3
""",
    extra_ctes=TURNS_SQL,
)


@register("topk_longest_turns", oracle=_TOPK_ORACLE, group=GROUP,
          # rotated out of the gate r3 (long-green); pytest enforces
          gate_oracle=False)
def topk_longest_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 longest turns per conversation — rank-filter pattern
    (reference analogue: max_samples head-k cut,
    /root/reference/pymfe/statistical.py:970-976). Deterministic
    tie-break on turn_idx."""
    t = turns(spark, sf_dir)
    rk = F.row_number().over(
        Window.partitionBy("conv_id").orderBy(F.desc("text_len"), F.asc("turn_idx"))
    )
    return (
        t.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select("conv_id", "turn_idx", r("text_len").alias("text_len"), F.col("rk").cast("int"))
    )


# ---------------------------------------------------------------------
# global crosstab (hash aggregation, SURVEY.md §2.2 pd.crosstab analogue)
# ---------------------------------------------------------------------

_CROSSTAB_ORACLE = with_transcripts_cte(
    f"""
SELECT role, {TOOL0_SQL} AS tool0, count(*) AS n
FROM transcripts GROUP BY ALL
"""
)


@register("crosstab_role_tool", oracle=_CROSSTAB_ORACLE, group=GROUP,
          # rotated out of the gate r3 (long-green); pytest enforces
          gate_oracle=False)
def crosstab_role_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global role x tool contingency table — the reference's
    pd.crosstab joint-frequency (/root/reference/pymfe/info_theory.py:
    186-195) as a partial+final hash aggregation, long format."""
    from pymfe_spark.sources import transcripts

    return (
        transcripts(spark, sf_dir)
        .groupBy("role", tool0())
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------
# stride-1 per-turn SQL-tier meta-feature vector: the algebraic subset
# of the measure registry at EVERY turn, entirely in whole-stage
# codegen. Complements the Arrow tier's extract_expanding (holistic
# matrix measures at a stride): at 100 TB the composition is "this
# query at every turn + Arrow vectors at stride/final turn".
#
# Exactness design: cumulative raw power sums S1..S4 of text_len are
# exact integers in double (values <= 1e3, prefixes <= 1e4 turns ->
# S4 < 2^53), finished by functions/moments.py ``power_sum_stats`` as
# a Column and as the oracle's SQL text (one float tree, sqrt not
# pow); the entropy terms are summed in sorted order (sort_array +
# sequential fold == list_sort + list_aggregate) so float addition
# order matches across engines. Running class entropy is pymfe
# info_theory.py:344-389 per prefix.
# ---------------------------------------------------------------------

_LEN_STATS = power_sum_stats(
    *(Sql(f"c.{k}") for k in ("rn", "s1", "s2", "s3", "s4")), SQL
)

_EXPANDING_MFE_ORACLE = with_transcripts_cte(
    f"""
SELECT c.conv_id,
       cast(c.turn_idx AS int)               AS turn_idx,
       cast(c.rn AS double)                  AS nr_inst,
       cast(e.nr_class AS double)            AS nr_class,
       round({_LEN_STATS[0]}, 6)             AS mean_len,
       round({_LEN_STATS[1]}, 6)             AS sd_len,
       round(c.mn, 6)                        AS min_len,
       round(c.mx, 6)                        AS max_len,
       round(c.mx - c.mn, 6)                 AS range_len,
       round({_LEN_STATS[2]}, 6)             AS skewness_len,
       round({_LEN_STATS[3]}, 6)             AS kurtosis_len,
       round({running_entropy(Sql("c.rn"), Sql("e.sclc"), SQL)}, 6) AS class_ent
FROM cums c JOIN ent e ON c.conv_id = e.conv_id AND c.turn_idx = e.turn_idx
""",
    extra_ctes=TURNS_SQL
    + """,
 cums AS (
   SELECT conv_id, turn_idx,
          cast(count(*) OVER w AS double)              AS rn,
          sum(text_len) OVER w                          AS s1,
          sum(text_len * text_len) OVER w               AS s2,
          sum(text_len * text_len * text_len) OVER w    AS s3,
          sum(text_len * text_len * text_len * text_len) OVER w AS s4,
          min(text_len) OVER w                          AS mn,
          max(text_len) OVER w                          AS mx
   FROM turns
   WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
 roles AS (SELECT DISTINCT conv_id, role FROM turns),
 grid AS (
   SELECT t.conv_id, t.turn_idx, r.role,
          sum(CASE WHEN t.role = r.role THEN 1 ELSE 0 END)
            OVER (PARTITION BY t.conv_id, r.role ORDER BY t.turn_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS c
   FROM turns t JOIN roles r ON t.conv_id = r.conv_id),
 ent AS (
   SELECT conv_id, turn_idx,
          count(*) AS nr_class,
          list_aggregate(list_sort(list(c * log2(c))), 'sum') AS sclc
   FROM grid WHERE c > 0
   GROUP BY conv_id, turn_idx)""",
)


@register(
    "expanding_mfe_sql",
    oracle=_EXPANDING_MFE_ORACLE,
    group=GROUP,
)
def expanding_mfe_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn (stride-1) algebraic meta-feature vector, pure SQL
    tier: running nr_inst / nr_class / mean / sd / min / max / range /
    e1071-method-3 skewness+kurtosis of text_len and running class
    (role) entropy over exactly the prefix turn' <= turn — zero
    temporal leakage by frame construction, every value
    DuckDB-oracle-checked (tests/test_oracle_parity.py; excluded from
    the driver record only because its 50 oracle slots are full).

    Physically: one unbounded-preceding window pass for the exact
    power sums + one (conv, role) window over an n x r grid for the
    running entropy + one co-partitioned join — no Python anywhere, so
    per-turn vectors stream at window speed: ~44k vectors/s at sf0.1
    local[32] vs ~2k/s emitted by the Arrow tier's full-vector
    recompute at stride 8 (see BENCH.md)."""
    t = turns(spark, sf_dir)
    x = F.col("text_len")
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cums = t.select(
        "conv_id",
        "turn_idx",
        F.count("*").over(w).cast("double").alias("rn"),
        F.sum(x).over(w).alias("s1"),
        F.sum(x * x).over(w).alias("s2"),
        F.sum(x * x * x).over(w).alias("s3"),
        F.sum(x * x * x * x).over(w).alias("s4"),
        F.min(x).over(w).alias("mn"),
        F.max(x).over(w).alias("mx"),
    )
    roles = t.select("conv_id", "role").distinct()
    wcr = (
        Window.partitionBy("t.conv_id", "r.role")
        .orderBy("t.turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grid = (
        t.alias("t")
        .join(roles.alias("r"), F.col("t.conv_id") == F.col("r.conv_id"))
        .select(
            F.col("t.conv_id").alias("conv_id"),
            F.col("t.turn_idx").alias("turn_idx"),
            F.sum(
                F.when(F.col("t.role") == F.col("r.role"), 1).otherwise(0)
            )
            .over(wcr)
            .alias("c"),
        )
    )
    c = F.col("c").cast("double")
    ent = (
        grid.filter(F.col("c") > 0)
        .groupBy("conv_id", "turn_idx")
        .agg(
            F.count("*").alias("nr_class"),
            F.aggregate(
                F.sort_array(F.collect_list(c * F.log2(c))),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("sclc"),
        )
    )
    rn = F.col("rn")
    mean, sd, skew, kurt = power_sum_stats(
        *(F.col(k) for k in ("rn", "s1", "s2", "s3", "s4")), COL
    )
    return (
        cums.join(ent, ["conv_id", "turn_idx"])
        .select(
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            rn.alias("nr_inst"),
            F.col("nr_class").cast("double").alias("nr_class"),
            r(mean).alias("mean_len"),
            r(sd).alias("sd_len"),
            r(F.col("mn")).alias("min_len"),
            r(F.col("mx")).alias("max_len"),
            r(F.col("mx") - F.col("mn")).alias("range_len"),
            r(skew).alias("skewness_len"),
            r(kurt).alias("kurtosis_len"),
            r(running_entropy(rn, F.col("sclc"), COL)).alias("class_ent"),
        )
    )
