"""Corpus-curation operators: training-order shuffle and per-source
document caps.

Two standard steps of a web-scale pretraining data pipeline that sit
between dedup/filtering and sequence packing:

- **corpus_shuffle_order**: a deterministic global shuffle of the
  corpus (seeded hash order) with an exact 0-based global position per
  document — the training-order assignment. The scale problem is the
  global ROW_NUMBER: a naive ``row_number() OVER (ORDER BY key)`` is a
  single-partition sort. Here the global index is assembled
  distributively: bucket by approximate key percentiles (a projection,
  no shuffle), one hash exchange per bucket for the within-bucket
  rank, and a broadcast of the 32-row cumulative bucket offsets —
  exactly one full-data exchange, same shape at 10^9 documents.
- **docs_per_source_cap**: C4/Gopher-style per-domain document caps
  (keep at most N docs per source, chosen by seeded hash rank, so the
  kept subset is deterministic and unbiased). The scale problem is the
  mega-domain: a ``row_number() OVER (PARTITION BY source)`` puts an
  entire domain in one task. Two-phase top-N fixes it exactly: phase 1
  ranks within (source, salt) — 16-way split of every domain — and
  keeps ≤ N per split; phase 2 re-ranks the ≤ 16·N survivors per
  source. The true global top-N of a source is contained in the union
  of its per-salt top-Ns, so the result is bit-identical to the
  single-phase form (unit-tested), while no task ever sees more than
  max(|domain|/16, 16·N) rows.

Both are DuckDB-value-oracled via the shared cross-engine polynomial
hash (pytest/tools-enforced; the driver gate's 50 slots stay with the
round-1 oracle set). Reference analogue: pymfe's seeded deterministic
sampling knobs (random_state at /root/reference/pymfe/mfe.py:203-210,
lm_sample_frac subsampling at landmarking.py:198-236) — seeded,
reproducible row selection re-expressed as corpus-scale operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pymfe_spark.operators.textops import poly_hash, poly_hash_sql
from pymfe_spark.plans.catalog import register

GROUP = "curation"

SHUFFLE_SEED = 17
SHUFFLE_BUCKETS = 32
CAP_SEED = 23
SOURCE_CAP = 8
CAP_SALTS = 16


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _seeded_key(prefix: str) -> Column:
    """Seeded per-doc hash key, identical across engines: the shared
    polynomial hash of '<prefix><doc_id>'."""
    return poly_hash(F.concat(F.lit(prefix), F.col("doc_id").cast("string")))


def _seeded_key_sql(prefix: str) -> str:
    return poly_hash_sql(f"'{prefix}' || cast(doc_id AS varchar)")


_SHUFFLE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, {_seeded_key_sql(f"s{SHUFFLE_SEED}_")} AS skey
  FROM documents
)
SELECT doc_id, skey,
       cast(row_number() OVER (ORDER BY skey, doc_id) - 1 AS BIGINT)
         AS shuffle_pos
FROM keyed
"""


@register(
    "corpus_shuffle_order",
    oracle=_SHUFFLE_ORACLE,
    group=GROUP,
)
def corpus_shuffle_order(
    spark: SparkSession, sf_dir: str, n_buckets: int = SHUFFLE_BUCKETS
) -> DataFrame:
    """Deterministic training-order shuffle: global 0-based position of
    every document under seeded-hash order (ties broken by doc_id).

    Distributed global-index plan (no single-partition sort):

    1. ``skey`` = seeded cross-engine hash — a projection.
    2. Bucket boundaries = ``percentile_approx`` of skey (one partial
       agg to a 1-row frame, broadcast back); ``bkt`` = count of
       boundaries < skey — still a projection. Boundary *placement*
       only affects balance, never correctness: equal skeys share a
       bucket and order is (skey, doc_id) within buckets that tile the
       key range.
    3. Bucket counts -> cumulative offsets (32-row window, broadcast).
    4. ``row_number`` within bucket (the one full-data hash exchange)
       + bucket offset = exact global position.
    """
    keyed = _docs(spark, sf_dir).select(
        "doc_id", _seeded_key(f"s{SHUFFLE_SEED}_").alias("skey")
    )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = keyed.agg(
        F.percentile_approx("skey", qs, 10_000).alias("bnds")
    )
    bucket = F.aggregate(
        "bnds",
        F.lit(0),
        lambda acc, x: acc + F.when(x < F.col("skey"), 1).otherwise(0),
    )
    bucketed = keyed.join(F.broadcast(bounds)).select(
        "doc_id", "skey", bucket.alias("bkt")
    )
    counts = bucketed.groupBy("bkt").agg(F.count("*").alias("cnt"))
    w_off = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "bkt",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
        .cast("long")
        .alias("off"),
    )
    w_in = Window.partitionBy("bkt").orderBy("skey", "doc_id")
    return bucketed.join(F.broadcast(offsets), "bkt").select(
        "doc_id",
        "skey",
        (F.col("off") + F.row_number().over(w_in) - 1)
        .cast("long")
        .alias("shuffle_pos"),
    )


_CAP_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_seeded_key_sql(f"c{CAP_SEED}_")}, doc_id
         ) AS rnk
  FROM documents
)
SELECT doc_id, source, cast(rnk AS BIGINT) AS keep_rank
FROM ranked
WHERE rnk <= {SOURCE_CAP}
"""


@register(
    "docs_per_source_cap",
    oracle=_CAP_ORACLE,
    group=GROUP,
)
def docs_per_source_cap(
    spark: SparkSession,
    sf_dir: str,
    cap: int = SOURCE_CAP,
    n_salts: int = CAP_SALTS,
) -> DataFrame:
    """Keep at most ``cap`` documents per source, selected by seeded
    hash rank (deterministic, selection-bias-free). Two-phase skew-safe
    top-N; bit-identical to the single-phase window (see module doc +
    tests/test_shuffle_cap.py equivalence test)."""
    base = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        _seeded_key(f"c{CAP_SEED}_").alias("rkey"),
        F.pmod(F.col("doc_id"), F.lit(n_salts)).alias("salt"),
    )
    w1 = Window.partitionBy("source", "salt").orderBy("rkey", "doc_id")
    survivors = base.withColumn("rn1", F.row_number().over(w1)).filter(
        F.col("rn1") <= cap
    )
    w2 = Window.partitionBy("source").orderBy("rkey", "doc_id")
    return (
        survivors.withColumn(
            "keep_rank", F.row_number().over(w2).cast("long")
        )
        .filter(F.col("keep_rank") <= cap)
        .select("doc_id", "source", "keep_rank")
    )


def docs_per_source_cap_direct(
    spark: SparkSession, sf_dir: str, cap: int = SOURCE_CAP
) -> DataFrame:
    """Single-phase form (test-only truth source for the two-phase
    equivalence; NOT in the catalog — it is the skew-unsafe shape)."""
    base = _docs(spark, sf_dir).select(
        "doc_id", "source", _seeded_key(f"c{CAP_SEED}_").alias("rkey")
    )
    w = Window.partitionBy("source").orderBy("rkey", "doc_id")
    return (
        base.withColumn("keep_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("keep_rank") <= cap)
        .select("doc_id", "source", "keep_rank")
    )
