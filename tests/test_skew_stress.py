"""Planted mega-skew fixtures (round-2 verdict "Next round" #1): the
caps must actually ROUTE pathological inputs, not just exist.

- a boilerplate cluster of exact-duplicate documents larger than
  MAX_BAND_BUCKET: the LSH band-bucket cap must drop its buckets (no
  quadratic intra-cluster candidate pairs) while dedup_exact owns the
  cluster, and sub-cap near-dups must STILL be recalled;
- a hot-shingle cluster larger than MAX_SHINGLE_DF: the
  broadcast-anti shingle cap must keep the candidate join linear;
- the same cluster split into an increment and a history: the
  history-side band cap of dedup_incremental must keep the cluster out
  of the near tier while the exact tier still drops it;
- the mega-conversation fixture is covered by tests/test_hybrid.py
  (routing + value parity) and bench.py --skew (straggler bound via
  task metrics at 10^6 turns).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from pymfe_spark.operators.dedup import (
    INCR_MOD,
    MAX_BAND_BUCKET,
    MAX_SHINGLE_DF,
    _increment_candidates,
    band_table,
    dedup_exact,
    dedup_incremental,
    dedup_minhash_lsh,
    dedup_minhash_verified,
    dedup_ngram_jaccard,
    gram_hash_table,
)

CLUSTER = 300  # > MAX_BAND_BUCKET (64) and > MAX_SHINGLE_DF (128)
BOILER = (
    "subscribe to our newsletter for the latest updates and offers "
    "terms and conditions apply see website for details all rights "
    "reserved contact support for assistance thank you for reading"
)


@pytest.fixture(scope="module")
def skew_dir(spark, tmp_path_factory):
    """documents.parquet with a planted mega cluster: CLUSTER exact
    copies of the boilerplate, one 5-doc near-dup group (sub-cap), and
    200 unique filler docs."""
    tmp = tmp_path_factory.mktemp("skew")
    cluster = spark.range(CLUSTER).select(
        (F.lit(900_000_000) + F.col("id")).alias("doc_id"),
        F.lit(BOILER).alias("text"),
    )
    near = spark.range(5).select(
        (F.lit(910_000_000) + F.col("id")).alias("doc_id"),
        F.concat(
            F.lit(
                "the quick brown fox jumps over the lazy dog near the "
                "riverbank while seventeen geese watch closely variant "
            ),
            F.col("id"),
        ).alias("text"),
    )
    filler = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("unique filler document number "),
            F.col("id"),
            F.lit(" alpha"),
            F.pmod(F.col("id") * 7919, F.lit(1000)),
            F.lit(" beta"),
            F.pmod(F.col("id") * 104729, F.lit(1000)),
            F.lit(" gamma"),
            F.pmod(F.col("id") * 1299709, F.lit(1000)),
            F.lit(" delta epsilon zeta"),
        ).alias("text"),
    )
    docs = cluster.unionByName(near).unionByName(filler).select(
        "doc_id",
        "text",
        F.lit("en").alias("lang"),
        F.lit("synth").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )
    docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    return str(tmp)


def test_mega_band_buckets_routed_to_exact_tier(spark, skew_dir):
    """The 300-doc exact-dup cluster fills every band bucket past
    MAX_BAND_BUCKET -> the cap drops those buckets, so LSH emits ZERO
    intra-cluster pairs (not ~45k), while dedup_exact owns the cluster
    and the sub-cap near-dup group is still recalled."""
    pairs = dedup_minhash_lsh(spark, skew_dir).toPandas()
    in_cluster = pairs[
        (pairs.doc_a >= 900_000_000)
        & (pairs.doc_a < 900_000_000 + CLUSTER)
        & (pairs.doc_b >= 900_000_000)
        & (pairs.doc_b < 900_000_000 + CLUSTER)
    ]
    assert len(in_cluster) == 0, (
        f"{len(in_cluster)} intra-mega-cluster pairs leaked past the "
        f"band-bucket cap ({MAX_BAND_BUCKET})"
    )
    near = pairs[(pairs.doc_a >= 910_000_000) & (pairs.doc_b >= 910_000_000)]
    assert len(near) == 10, (
        f"sub-cap near-dup group must be fully paired (C(5,2)=10), got "
        f"{len(near)}"
    )
    # the exact tier owns the mega cluster
    ex = dedup_exact(spark, skew_dir).toPandas()
    cl = ex[(ex.doc_id >= 900_000_000) & (ex.doc_id < 900_000_000 + CLUSTER)]
    assert (cl.cluster_size == CLUSTER).all()
    assert (cl.canonical_id == 900_000_000).all()


def test_mega_band_buckets_routed_in_verified_pipeline(spark, skew_dir):
    """Same routing in the production 8x4-banded + verified operator."""
    pairs = dedup_minhash_verified(spark, skew_dir).toPandas()
    in_cluster = pairs[
        (pairs.doc_a >= 900_000_000)
        & (pairs.doc_a < 900_000_000 + CLUSTER)
        & (pairs.doc_b >= 900_000_000)
        & (pairs.doc_b < 900_000_000 + CLUSTER)
    ]
    assert len(in_cluster) == 0
    near = pairs[(pairs.doc_a >= 910_000_000) & (pairs.doc_b >= 910_000_000)]
    assert len(near) == 10, "verified pipeline lost sub-cap near-dups"


def test_hot_shingles_keep_candidate_join_linear(spark, skew_dir):
    """Every shingle of the 300-doc cluster has document frequency 300
    > MAX_SHINGLE_DF -> dropped before the self-join: the candidate
    set stays bounded by the genuine near-dup group instead of
    exploding to C(300,2)=44,850 boilerplate pairs."""
    t0 = time.perf_counter()
    pairs = dedup_ngram_jaccard(spark, skew_dir).toPandas()
    wall = time.perf_counter() - t0
    in_cluster = pairs[
        (pairs.doc_a >= 900_000_000) & (pairs.doc_b < 900_000_000 + CLUSTER)
    ]
    in_cluster = in_cluster[in_cluster.doc_b >= 900_000_000]
    assert len(in_cluster) == 0, (
        f"{len(in_cluster)} boilerplate pairs leaked past the shingle "
        f"df cap ({MAX_SHINGLE_DF})"
    )
    assert len(pairs) < 100, f"candidate set blew up: {len(pairs)} pairs"
    near = pairs[(pairs.doc_a >= 910_000_000) & (pairs.doc_b >= 910_000_000)]
    assert len(near) == 10 and (near.jaccard > 0.5).all()
    assert wall < 60, f"hot-shingle fixture took {wall:.1f}s"


def test_history_band_cap_in_incremental_dedup(spark, skew_dir):
    """Ids % INCR_MOD == 0 are the increment, so the cluster splits into
    60 new docs and 240 history docs (> MAX_BAND_BUCKET): every history
    band bucket of the cluster is capped, the new cluster docs fall to
    the exact tier, and the sub-cap near group is still matched."""
    cluster = range(900_000_000, 900_000_000 + CLUSTER)
    hist = [d for d in cluster if d % INCR_MOD]
    assert len(hist) > MAX_BAND_BUCKET
    out = dedup_incremental(spark, skew_dir).toPandas().set_index("doc_id")
    new_cluster = out.loc[[d for d in cluster if d % INCR_MOD == 0]]
    assert (new_cluster.decision == "drop_exact").all()
    assert (new_cluster.dup_of == min(hist)).all()
    assert out.loc[910_000_000, "decision"] == "drop_near"
    assert 910_000_001 <= out.loc[910_000_000, "dup_of"] <= 910_000_004
    cand = _increment_candidates(
        band_table(gram_hash_table(spark, skew_dir)), MAX_BAND_BUCKET
    ).toPandas()
    assert (cand.new_id == 910_000_000).any(), "near group lost its candidates"
    leaked = cand[cand.hist_id.isin(hist)]
    assert len(leaked) == 0, (
        f"{len(leaked)} candidate pairs probe capped history buckets "
        f"({MAX_BAND_BUCKET})"
    )
