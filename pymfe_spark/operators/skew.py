"""Skew handling for mega-conversations — explicit salting.

AQE's skew-join splitting handles join-side skew automatically
(enabled in session.py); this module covers the aggregation side: a
conversation with 10^8 turns would pin one reducer. For *algebraic*
measures (count/sum/mean/var/min/max/moments) the fix is classic
two-level aggregation:

    stage 1: groupBy(conv_id, salt = pmod(turn_idx, S))  -- partial
    stage 2: groupBy(conv_id)                            -- merge

The partials are the raw power-sum state (count, S1, S2), so the merge
is plain addition — exact in any order while the sums are integers
below 2^53 — and sd comes from the one power-sum finisher
(functions/moments.py ``power_sum_sd``; NULL for a 1-turn
conversation), rendered as a Column and as the oracle's SQL text.
Holistic measures (median, distance matrices) cannot be salted — they
rely on the extractor's ``max_kernel_turns`` prefix cap instead
(extractor.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pymfe_spark.functions.moments import COL, SQL, Sql, power_sum_sd
from pymfe_spark.functions.sql_exprs import r
from pymfe_spark.operators.base import TURNS_SQL, turns
from pymfe_spark.plans.catalog import register
from pymfe_spark.sources import with_transcripts_cte

GROUP = "skew"

N_SALTS = 16

_SALTED_ORACLE = with_transcripts_cte(
    """
SELECT conv_id,
       cast(n AS bigint)                       AS n,
       round(s1 / n, 6)                        AS mean_len,
       round({sd}, 6)                          AS sd_len,
       round(mn, 6)                            AS min_len,
       round(mx, 6)                            AS max_len
FROM (SELECT conv_id, sum(c) AS n, sum(s) AS s1,
             sum(s2) AS s2, min(mn) AS mn, max(mx) AS mx
      FROM (SELECT conv_id, turn_idx % {salts} AS salt,
                   count(*) AS c, sum(text_len) AS s,
                   sum(text_len * text_len) AS s2,
                   min(text_len) AS mn, max(text_len) AS mx
            FROM turns GROUP BY conv_id, turn_idx % {salts})
      GROUP BY conv_id)
""".format(salts=N_SALTS, sd=power_sum_sd(*map(Sql, ("n", "s1", "s2")), SQL)),
    extra_ctes=TURNS_SQL,
)


@register("salted_conv_stats", oracle=_SALTED_ORACLE, group=GROUP)
def salted_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation stats via salted two-level aggregation — the
    mega-conversation path. Results must equal the direct single-level
    aggregation (the oracle computes the same decomposition; the unit
    test additionally checks against mf_stat_central)."""
    t = turns(spark, sf_dir)
    salt = F.pmod(F.col("turn_idx"), F.lit(N_SALTS))
    partial = t.groupBy("conv_id", salt.alias("salt")).agg(
        F.count("*").alias("c"),
        F.sum("text_len").alias("s"),
        F.sum(F.col("text_len") * F.col("text_len")).alias("s2"),
        F.min("text_len").alias("mn"),
        F.max("text_len").alias("mx"),
    )
    merged = partial.groupBy("conv_id").agg(
        F.sum("c").alias("n"),
        F.sum("s").alias("s1"),
        F.sum("s2").alias("s2"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    n, s1, s2 = F.col("n").cast("double"), F.col("s1"), F.col("s2")
    return merged.select(
        "conv_id",
        F.col("n"),
        r(s1 / n).alias("mean_len"),
        r(power_sum_sd(n, s1, s2, COL)).alias("sd_len"),
        r("mn").alias("min_len"),
        r("mx").alias("max_len"),
    )
