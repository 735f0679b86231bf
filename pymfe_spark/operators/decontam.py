"""Benchmark decontamination over the ``documents`` table.

The standard training-data hygiene pass: flag every training document
that shares word n-grams with a held-out evaluation/benchmark set, so
contaminated examples can be dropped before training. (The reference
engine has no analogue — this is part of the large-scale pipeline
surface alongside dedup/similarity/text-quality; n-gram overlap is the
published decontamination recipe of the GPT-3 / PaLM data cards.)

Scale shape — the asymmetry IS the design:

- The benchmark side is tiny (eval suites are MBs; the corpus is TBs),
  so its distinct gram set is **broadcast** and the 100 TB training
  side is scanned embarrassingly parallel — no shuffle of the corpus
  against the benchmark, ever.
- Per-doc totals and hit counts come from ONE aggregation after a
  broadcast LEFT join (hit flag riding along), so the whole query is a
  single exchange on ``doc_id`` — the same shuffle the gram table
  needs anyway.
- Here the "benchmark" is synthesized deterministically from the same
  table (``doc_id % BENCH_MOD == 0``) per the no-external-data rule;
  in production it would be ``spark.read`` of the real eval suite.

The grams are the dedup pipeline's shingle stage (dedup.py
``shingle_table`` and its oracle twin ``_SHINGLE_CTE``), so both
pipelines agree on what an n-gram is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pymfe_spark.functions.sql_exprs import r
from pymfe_spark.operators.dedup import _SHINGLE_CTE, shingle_table
from pymfe_spark.plans.catalog import register

GROUP = "decontam"

# every 20th doc plays the held-out benchmark: 5% of the table, which
# keeps the broadcast side small (the production analogue: a real eval
# suite is far below any broadcast threshold).
BENCH_MOD = 20

_DECONTAM_ORACLE = f"""
WITH {_SHINGLE_CTE}, bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % {BENCH_MOD} = 0
), train AS (
  SELECT * FROM sh WHERE doc_id % {BENCH_MOD} <> 0
)
SELECT t.doc_id,
       cast(count(*) AS bigint) AS total_grams,
       cast(count(b.s) AS bigint) AS hit_grams,
       round(count(b.s) * 1.0 / count(*), 6) AS contamination,
       count(b.s) > 0 AS contaminated
FROM train t LEFT JOIN bench b ON t.s = b.s
GROUP BY t.doc_id
"""


@register("decontam_ngram", oracle=_DECONTAM_ORACLE, group=GROUP)
def decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-doc benchmark contamination: how many of its word
    4-grams appear anywhere in the benchmark split.

    Physical plan: gram table split by the benchmark predicate; the
    benchmark grams collapse to a distinct set (tiny) and BROADCAST
    onto the training gram scan as a LEFT join (hit flag rides along);
    one groupBy(doc_id) yields totals and hits together. Exactly one
    exchange of training-side data; the corpus is never shuffled
    against the benchmark. Docs with < 4 words have no grams and are
    absent from the output in both engines (nothing to test overlap
    on)."""
    sh = shingle_table(spark, sf_dir)
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench = sh.filter(is_bench).select("s").distinct()
    train = sh.filter(~is_bench)
    hit = F.col("b_s").isNotNull()
    return (
        train.join(
            F.broadcast(bench.withColumnRenamed("s", "b_s")),
            F.col("s") == F.col("b_s"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("total_grams"),
            F.sum(hit.cast("long")).alias("hit_grams"),
        )
        .select(
            "doc_id",
            "total_grams",
            "hit_grams",
            r(F.col("hit_grams") / F.col("total_grams")).alias("contamination"),
            (F.col("hit_grams") > 0).alias("contaminated"),
        )
    )
