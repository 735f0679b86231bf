"""Sequence packing — the concat-and-chunk step that turns a curated
document corpus into fixed-length training sequences (the final
operator of an LLM data pipeline, downstream of dedup / quality gates
/ decontamination).

Semantics (the standard "concat then chunk" scheme): documents are
assigned to shards, concatenated in a deterministic order within each
shard, and the resulting token stream is cut into fixed ``budget``-token
sequences; a document may span a chunk boundary. The operator emits,
per document, its shard, token count, start offset in the shard's
stream, and the first/last chunk it lands in — everything a downstream
writer needs to materialize the packed sequences.

Physical shape: ONE exchange (hash on shard) + within-shard sort by
``doc_id`` + a running-sum window — no joins, no data-sized driver
state. Shards are the parallelism unit: at 100 TB you raise
``n_shards`` so each shard's stream fits a task (the window is a single
streaming pass per shard), and the deterministic ``doc_id`` order is
what a production pipeline gets for free from range-partitioned ids.
All arithmetic is exact integer (``div``, not float division), so the
DuckDB oracle is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pymfe_spark.operators.textops import _tokens, tokens_sql
from pymfe_spark.plans.catalog import register

GROUP = "packing"

PACK_BUDGET = 2048  # tokens per training sequence
PACK_SHARDS = 32  # parallel packing streams (raise with cluster size)


def pack_sequences_df(
    docs: DataFrame, budget: int = PACK_BUDGET, n_shards: int = PACK_SHARDS
) -> DataFrame:
    """Per-document packing assignment over any (doc_id, text) frame."""
    toks = _tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % n_shards).alias("shard"),
        F.size(toks).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 1)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset")
    pos = base.select("doc_id", "shard", "n_tokens", start)
    return pos.select(
        "doc_id",
        "shard",
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset div {budget}").alias("chunk_first"),
        F.expr(f"(start_offset + n_tokens - 1) div {budget}").alias("chunk_last"),
        (
            F.expr(f"(start_offset + n_tokens - 1) div {budget}")
            - F.expr(f"start_offset div {budget}")
            + 1
        ).alias("n_chunks"),
    )


_PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         cast(len({tokens_sql("text")})
              AS bigint) AS n_tokens
  FROM documents
), pos AS (
  SELECT doc_id, shard, n_tokens,
         cast(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens AS bigint) AS start_offset
  FROM toks WHERE n_tokens >= 1
)
SELECT doc_id, shard, n_tokens, start_offset,
       cast(start_offset // {PACK_BUDGET} AS bigint) AS chunk_first,
       cast((start_offset + n_tokens - 1) // {PACK_BUDGET} AS bigint)
         AS chunk_last,
       cast((start_offset + n_tokens - 1) // {PACK_BUDGET}
            - start_offset // {PACK_BUDGET} + 1 AS bigint) AS n_chunks
FROM pos
"""


@register("pack_sequences", oracle=_PACK_ORACLE, group=GROUP)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing assignment for the documents corpus:
    2048-token sequences over 32 deterministic shards."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences_df(docs)


_PACK_YIELD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         cast(len({tokens_sql("text")})
              AS bigint) AS n_tokens
  FROM documents
)
SELECT shard,
       cast(count(*) AS bigint)        AS n_docs,
       cast(sum(n_tokens) AS bigint)   AS n_tokens,
       cast(sum(n_tokens) // {PACK_BUDGET} AS bigint) AS n_full_chunks,
       round((sum(n_tokens) % {PACK_BUDGET}) * 1.0 / {PACK_BUDGET}, 6)
         AS tail_fill_frac
FROM toks WHERE n_tokens >= 1
GROUP BY shard
"""


@register("pack_yield", oracle=_PACK_YIELD_ORACLE, group=GROUP)
def pack_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing yield report per shard: docs, tokens, full training
    sequences produced, and the fill fraction of the tail chunk (the
    padding-waste signal a packing job is tuned on). Pure partial
    aggregation — map-side combine, one tiny exchange."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = _tokens(F.col("text"))
    base = docs.select(
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(toks).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 1)
    return base.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.expr(f"sum(n_tokens) div {PACK_BUDGET}").alias("n_full_chunks"),
        F.round(
            (F.sum("n_tokens") % PACK_BUDGET) * F.lit(1.0) / PACK_BUDGET, 6
        ).alias("tail_fill_frac"),
    )
