"""Deterministic sampling operators for training-data curation:
stratified rebalancing and train/val/test split assignment.

Both are hash-gated Bernoulli filters — O(1) per row, no wide shuffle,
no window — which is the only sampling shape that survives 100 TB:
`ORDER BY rand() LIMIT k` sorts the world, per-stratum row_number
shuffles every over-represented source into one partition, and
rand()-based sampling is irreproducible across retries/backfills (a
re-run of a failed partition would sample different rows, corrupting
downstream joins). A fixed affine hash of the stable key gives the
same sample on every run, every engine, every retry.

All thresholds are computed in exact int64 arithmetic (the per-stratum
fraction never exists as a float), so Spark and DuckDB agree
bit-for-bit — enforced by value-hash oracles.

Reference scope: pymfe subsamples via lm_sample_frac
(reference landmarking.py:198-236) — a seeded row sample for ONE
in-memory matrix. These operators are the distributed analogue for
corpus curation (brief: training-data pipeline tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pymfe_spark.operators.textops import _tokens, tokens_sql
from pymfe_spark.plans.catalog import register

GROUP = "sampling"

_P = 2147483647  # 2^31 - 1, same modulus as the textops poly hash
_A, _B = 1103515245, 12345  # classic LCG multiplier/increment (public)
_SCALE = 1_000_000  # threshold resolution: parts-per-million


def _hash_gate(key) -> F.Column:
    """pmod(A*key + B, P) — deterministic uniform-ish gate value in
    [0, P). Products stay < 2^62: exact int64 in both engines."""
    return F.pmod(F.lit(_A) * key + F.lit(_B), F.lit(_P))


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    target_ppm_of_mean: int = 500_000,
) -> DataFrame:
    """Downsample over-represented strata toward a balanced mix: each
    stratum keeps ppm = min(SCALE, total * target_ppm_of_mean /
    (n_strata * count_s)) parts-per-million of its rows — i.e. at most
    `target_ppm_of_mean/SCALE` x the mean stratum size — chosen by the
    hash gate. Small strata pass through untouched.

    Plan shape: one tiny groupBy (broadcast back) + one filter scan.
    The per-stratum threshold is integer-exact: total*target_ppm
    < 2^63 up to ~9e12 rows per stratum-count product."""
    from pyspark.sql.window import Window

    counts = df.groupBy(stratum_col).agg(F.count("*").alias("cnt"))
    # totals attach via an unpartitioned window over the COUNTS
    # relation only — n_strata rows, so the single-partition window is
    # harmless at any corpus size (and avoids both a BNLJ crossJoin and
    # a driver collect). `div` keeps the threshold in exact int64:
    # float `/` silently loses integer precision past 2^53.
    w = Window.partitionBy()
    thr = counts.select(
        stratum_col,
        F.sum("cnt").over(w).alias("total"),
        F.count("*").over(w).alias("n_strata"),
        F.col("cnt"),
    ).select(
        stratum_col,
        F.least(
            F.lit(_SCALE).cast("long"),
            F.expr(
                f"(total * {int(target_ppm_of_mean)}) div (n_strata * cnt)"
            ),
        ).alias("keep_ppm"),
    )
    gate = F.pmod(_hash_gate(F.col(key_col)), F.lit(_SCALE))
    return (
        df.join(F.broadcast(thr), stratum_col)
        .filter(gate < F.col("keep_ppm"))
        .drop("keep_ppm")
    )


_STRAT_ORACLE = f"""
WITH counts AS (
  SELECT source, count(*) AS cnt FROM documents GROUP BY source
), totals AS (
  SELECT sum(cnt) AS total, count(*) AS n_strata FROM counts
), thr AS (
  SELECT source,
         CAST(least({_SCALE}, (total * 500000) // (n_strata * cnt)) AS BIGINT)
           AS keep_ppm
  FROM counts, totals
)
SELECT d.doc_id, d.source
FROM documents d JOIN thr USING (source)
WHERE ((({_A} * d.doc_id + {_B}) % {_P} + {_P}) % {_P}) % {_SCALE}
      < thr.keep_ppm
"""


@register(
    "sample_stratified",
    oracle=_STRAT_ORACLE,
    group=GROUP,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced corpus sample: every source capped at ~50% of the mean
    source size, rows chosen by the deterministic hash gate."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    return stratified_sample(d, "source", "doc_id")


# split boundaries in parts-per-million of the gate range: 95/2.5/2.5
_SPLITS = (("train", 950_000), ("val", 975_000), ("test", _SCALE))


@register(
    "sample_splits",
    oracle=f"""
SELECT doc_id,
       CASE WHEN g < 950000 THEN 'train'
            WHEN g < 975000 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             ((({_A} * doc_id + {_B}) % {_P} + {_P}) % {_P}) % {_SCALE} AS g
      FROM documents)
""",
    group=GROUP,
)
def sample_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (95 / 2.5 / 2.5) by the
    hash gate on doc_id: stable under re-runs, retries and incremental
    appends (a new document's split never depends on corpus state)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g = F.pmod(_hash_gate(F.col("doc_id")), F.lit(_SCALE))
    expr = F.when(g < _SPLITS[0][1], _SPLITS[0][0]).when(
        g < _SPLITS[1][1], _SPLITS[1][0]
    ).otherwise(_SPLITS[2][0])
    return d.select("doc_id", expr.alias("split"))


# ---------------------------------------------------------------------
# Mixture sampling: hit a global TOKEN budget with explicit per-source
# mixture weights — the static data-mixture rebalance of LLM corpus
# recipes (upweight curated sources, downweight crawl), as opposed to
# stratified_sample's equalizing cap. Same survivable physical shape:
# one tiny per-source aggregation -> broadcast thresholds -> one
# hash-gated filter scan. All threshold arithmetic is nested integer
# division replicated verbatim in the oracle, so the kept row set is
# bit-identical across engines.
# ---------------------------------------------------------------------


def mixture_sample(
    df: DataFrame,
    weights,
    budget_tokens_expr=None,
) -> DataFrame:
    """Keep a deterministic subset of (doc_id, source, n_tokens) rows
    whose per-source token mass approaches ``budget * w_s / Σw``.

    ``weights``: Column mapping source -> integer weight (build with
    F.when chains or a map lookup). ``budget_tokens_expr``: total token
    budget as a Column over the per-source totals relation; defaults to
    half the corpus tokens (scale-free). keep_ppm_s =
    min(SCALE, ((budget*w_s div Σw) * SCALE) div tokens_s) — a source
    whose desired share exceeds its inventory passes through whole
    (weights cannot mint tokens; re-normalize upstream if needed)."""
    from pyspark.sql.window import Window

    base = df.withColumn("w", weights)
    tot = base.groupBy("source", "w").agg(F.sum("n_tokens").alias("s_tok"))
    w_all = Window.partitionBy()
    budget = (
        budget_tokens_expr
        if budget_tokens_expr is not None
        else F.expr("total_tok div 2")
    )
    thr = (
        tot.select(
            "source",
            "w",
            "s_tok",
            F.sum("s_tok").over(w_all).alias("total_tok"),
            F.sum("w").over(w_all).alias("sum_w"),
        )
        .withColumn("budget", budget)
        .select(
            "source",
            F.least(
                F.lit(_SCALE).cast("long"),
                F.expr("((budget * w div sum_w) * 1000000) div s_tok"),
            ).alias("keep_ppm"),
        )
    )
    gate = F.pmod(_hash_gate(F.col("doc_id")), F.lit(_SCALE))
    return (
        df.join(F.broadcast(thr), "source")
        .filter(gate < F.col("keep_ppm"))
        .select("doc_id", "source", "n_tokens")
    )


# catalog instance: sources src0..src9 weight 2, the rest weight 1,
# budget = half the corpus tokens — fully deterministic in-plan
_MIX_W_SQL = (
    "CASE WHEN CAST(substr(source, 4) AS BIGINT) < 10 THEN 2 ELSE 1 END"
)

_MIXTURE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len({tokens_sql("text")})
              AS BIGINT) AS n_tokens,
         {_MIX_W_SQL} AS w
  FROM documents
), tot AS (
  SELECT source, w, sum(n_tokens) AS s_tok FROM toks GROUP BY source, w
), thr AS (
  SELECT source,
         CAST(least({_SCALE},
              (((sum(s_tok) OVER () // 2) * w // sum(w) OVER ())
               * 1000000) // s_tok) AS BIGINT) AS keep_ppm
  FROM tot
)
SELECT t.doc_id, t.source, t.n_tokens
FROM toks t JOIN thr USING (source)
WHERE ((({_A} * t.doc_id + {_B}) % {_P} + {_P}) % {_P}) % {_SCALE}
      < thr.keep_ppm
"""


@register(
    "sample_mixture",
    oracle=_MIXTURE_ORACLE,
    group=GROUP,
)
def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture rebalance at half the corpus token budget:
    sources src0-src9 weighted 2x the rest, rows chosen by the
    deterministic hash gate, thresholds in exact integer ppm."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = _tokens(F.col("text"))
    base = d.select(
        "doc_id", "source", F.size(toks).cast("long").alias("n_tokens")
    )
    w = F.when(
        F.substring("source", 4, 10).cast("long") < 10, F.lit(2)
    ).otherwise(F.lit(1))
    return mixture_sample(base, w)
