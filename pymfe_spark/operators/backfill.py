"""Resumable, bucketed feature backfill with per-partition lineage.

North-rule requirements implemented here:

- **bucket-partitioned staging**: the input is written ONCE into a
  ``bucket=<k>/`` parquet layout (deterministic crc32 bucket of
  conv_id — conversations are the atomic unit, and a conversation's
  turns must stay together for point-in-time correctness). Every
  per-bucket pass then reads a single partition directory: partition
  pruning makes each bucket's input scan 1/n_buckets of the table
  instead of a full re-scan per bucket (round-1 shape: ~3 full scans
  per bucket -> ~24x read amplification at n_buckets=8).
- **checkpointed resumability**: one commit per bucket
  (``bucket=<k>/`` directory + ``_SUCCESS`` marker from Spark's
  committer), staging included. A killed job restarts and skips every
  bucket whose commit marker exists — at most one bucket of work is
  repeated, and re-running a completed backfill is a no-op.
- **per-partition lineage + metrics**: each bucket commit appends a
  lineage row (bucket id, input rows, output rows, wall seconds,
  engine version, mega-routing mode) to ``_lineage/``. Both row counts
  come from a ``pyspark.sql.Observation`` on the bucket write itself —
  the feature vector carries the conversation's turn count, so the
  accounting costs neither an input scan nor a re-read of the output.
  The row is committed without Spark: a single-row parquet file
  written by pyarrow under a dot-prefixed temp name (invisible to
  Spark's reader), then renamed to ``part-<bucket>-<uuid>.parquet``.
  The directory stays an ordinary parquet dataset: ``read_lineage``
  and the routing guard read it with Spark and ``mergeSchema``.

In production this maps 1:1 onto Iceberg: bucket commit ->
``writeTo(tbl).overwritePartitions()`` snapshot; lineage row ->
snapshot summary properties; resume -> snapshot list scan; staging ->
a bucket(conv_id)-partitioned source table (at 100 TB the source
would already be stored bucketed, and the staging step disappears).
The sandbox has no catalog, so plain parquet directories + _SUCCESS
markers stand in (same idempotence contract).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pymfe_spark.plans.extractor import (
    MFESpark,
    effective_routing,
    extract_at_final_turn,
)

ENGINE_VERSION = "0.2.0"

LINEAGE_SCHEMA = (
    "bucket int, input_rows long, output_rows long, "
    "wall_sec double, engine_version string, routing string"
)

# LINEAGE_SCHEMA as a pyarrow schema, for the Spark-free lineage append
_ARROW_TYPES = {
    "int": pa.int32(),
    "long": pa.int64(),
    "double": pa.float64(),
    "string": pa.string(),
}
_LINEAGE_ARROW = pa.schema(
    [
        (name, _ARROW_TYPES[typ])
        for name, typ in (field.split() for field in LINEAGE_SCHEMA.split(", "))
    ]
)


def _append_lineage(lineage_dir: str, row: tuple) -> None:
    """Commit one lineage row (LINEAGE_SCHEMA order) as its own
    single-row parquet file — no Spark job. The file is written under a
    dot-prefixed temp name that Spark's reader skips, then renamed into
    place, so a kill mid-append never leaves a readable partial file
    (backfill already assumes a local POSIX filesystem for its markers
    and directory swaps)."""
    os.makedirs(lineage_dir, exist_ok=True)
    name = f"part-{row[0]}-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(lineage_dir, f".{name}.tmp")
    table = pa.table(
        {f: [v] for f, v in zip(_LINEAGE_ARROW.names, row)},
        schema=_LINEAGE_ARROW,
    )
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(lineage_dir, name))


def _write_counted(df: DataFrame, path: str) -> tuple[int, int]:
    """Write a bucket's feature rows to ``path`` and return its lineage
    counts (input turns, output rows). An Observation on the write
    itself counts them — the feature vector carries each
    conversation's turn count — so nothing re-reads the output."""
    obs = Observation()
    df.observe(
        obs,
        F.count(F.lit(1)).alias("out_rows"),
        F.sum("n_turns").alias("in_rows"),
    ).write.mode("overwrite").parquet(path)
    stats = obs.get
    return int(stats["in_rows"] or 0), int(stats["out_rows"])


def _guard_routing(
    spark: SparkSession,
    lineage_dir: str,
    routing: str,
    allow_mixed_routing: bool,
) -> None:
    """Refuse (by default) to write rows under a routing mode that
    differs from what the output dir's lineage already records — a dir
    where some conversations carry hybrid prefix-tier estimates and
    others full-kernel values would otherwise mix two semantics
    silently. Lineage rows written before the routing column existed
    read as null and count as 'unknown' (also a mismatch)."""
    # no committed lineage file yet: Spark's reader skips ./_-prefixed
    # names, so the leftover temp file of a killed append is no lineage
    if not os.path.isdir(lineage_dir) or all(
        f.startswith((".", "_")) for f in os.listdir(lineage_dir)
    ):
        return
    lin = spark.read.option("mergeSchema", "true").parquet(lineage_dir)
    if "routing" in lin.columns:
        recorded = {r["routing"] for r in lin.select("routing").distinct().collect()}
    else:
        recorded = {None}
    others = sorted(
        (r if r is not None else "<unrecorded pre-0.2.0>")
        for r in recorded
        if r != routing
    )
    if others and not allow_mixed_routing:
        raise ValueError(
            f"output dir lineage records routing mode(s) {others} but this "
            f"run would write '{routing}' — one directory would mix "
            "hybrid-estimated and full-kernel feature semantics. Re-run "
            "with the original route_mega/mega_turn_threshold, use a fresh "
            "output_dir, or pass allow_mixed_routing=True to override "
            "(the lineage keeps the per-bucket routing audit trail)."
        )


def _bucket_of(col, n_buckets: int):
    """Deterministic bucket id for a conv_id (stable across runs and
    partitionings — uses crc32, not Spark's internal hash, so the
    assignment survives engine upgrades)."""
    return F.pmod(F.crc32(col.cast("binary")), F.lit(n_buckets)).cast("int")


def _stage_input(
    spark: SparkSession, turns_df: DataFrame, staging: str, n_buckets: int
) -> None:
    """One scan of the input -> bucket-partitioned parquet staging
    (skipped when already committed)."""
    if os.path.exists(os.path.join(staging, "_SUCCESS")):
        return
    (
        turns_df.withColumn("bucket", _bucket_of(F.col("conv_id"), n_buckets))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staging)
    )


def backfill(
    spark: SparkSession,
    turns_df: DataFrame,
    output_dir: str,
    n_buckets: int = 8,
    extractor: MFESpark | None = None,
    route_mega: bool = True,
    mega_turn_threshold: int | None = None,
    allow_mixed_routing: bool = False,
) -> dict:
    """Run (or resume) a bucketed backfill of per-conversation feature
    vectors into ``output_dir``. Returns a summary dict.

    Idempotent: completed buckets (``_SUCCESS`` present) are skipped,
    so killing the job at any point and re-invoking converges to the
    same output (verified by tests/test_backfill.py including a
    mid-run kill + bit-identical final output).

    ``route_mega``/``mega_turn_threshold`` select the mega-conversation
    routing (see :func:`effective_routing`); the effective mode is
    recorded in every lineage row, and a resume under a DIFFERENT mode
    than the dir already records raises unless ``allow_mixed_routing``.
    """
    extractor = extractor or MFESpark(groups=("general", "statistical"))
    routing = effective_routing(extractor, route_mega, mega_turn_threshold)
    os.makedirs(output_dir, exist_ok=True)
    lineage_dir = os.path.join(output_dir, "_lineage")
    _guard_routing(spark, lineage_dir, routing, allow_mixed_routing)
    staging = os.path.join(output_dir, "_staged_input")
    _stage_input(spark, turns_df, staging, n_buckets)
    staged = spark.read.parquet(staging)

    done, ran = [], []
    t_start = time.time()
    for k in range(n_buckets):
        bucket_path = os.path.join(output_dir, f"bucket={k}")
        if os.path.exists(os.path.join(bucket_path, "_SUCCESS")):
            done.append(k)
            continue
        t0 = time.time()
        # partition-pruned: only staging/bucket=k is read
        part = staged.filter(F.col("bucket") == k).drop("bucket")
        vec = extract_at_final_turn(
            part,
            extractor,
            route_mega=route_mega,
            mega_turn_threshold=mega_turn_threshold,
        )
        # map<> column -> sorted key/val arrays for a stable parquet
        # schema; n_turns rides along for lineage accounting
        out = vec.select(
            "conv_id",
            "ts",
            "n_turns",
            F.map_keys("features").alias("mtf_names"),
            F.map_values("features").alias("mtf_vals"),
        )
        in_rows, out_rows = _write_counted(out, bucket_path)
        _append_lineage(
            lineage_dir,
            (
                k,
                in_rows,
                out_rows,
                round(time.time() - t0, 3),
                ENGINE_VERSION,
                routing,
            ),
        )
        ran.append(k)
    return {
        "buckets_total": n_buckets,
        "buckets_skipped": done,
        "buckets_run": ran,
        "wall_sec": round(time.time() - t_start, 3),
        "output_dir": output_dir,
    }


def backfill_incremental(
    spark: SparkSession,
    delta_df: DataFrame,
    output_dir: str,
    delta_id: str,
    n_buckets: int = 8,
    extractor: MFESpark | None = None,
    route_mega: bool = True,
    mega_turn_threshold: int | None = None,
    allow_mixed_routing: bool = False,
) -> dict:
    """Apply an append-only batch of new turns to a completed backfill,
    recomputing feature vectors ONLY for the conversations the delta
    touches — the feature-store refresh path: a day's new turns must
    not trigger a corpus-wide recompute.

    Snapshot-style protocol (maps 1:1 onto Iceberg appends):

    1. the delta is staged once under ``_staged_delta/<delta_id>/``,
       bucket-partitioned like the base staging (idempotent: skipped
       when its ``_SUCCESS`` exists);
    2. a conversation's turns are defined as base staging UNION all
       committed deltas (key-deduped on (conv_id, turn_idx) — the
       append-only contract makes this a no-op, it only guards a
       replayed delta);
    3. for each bucket the delta touches: recompute vectors for the
       touched conv_ids from the combined turns (partition-pruned to
       bucket=k on every source), keep every untouched conversation's
       existing row, swap the bucket directory, then commit an
       ``_applied/<delta_id>/bucket-k`` marker. A kill between swap
       and marker replays the bucket; recomputation is deterministic,
       so the replay is bit-identical (same contract as the full
       backfill's resume).

    Untouched buckets are never read or written. Lineage rows append
    per applied bucket, tagged ``<engine_version>+<delta_id>`` so the
    audit trail distinguishes incremental refreshes from the initial
    build, and carry the effective routing mode: recomputing touched
    conversations under a different mega-routing than the base build
    (hybrid prefix-tier estimates vs full-kernel values) would silently
    mix semantics in one dir, so a routing mismatch raises unless
    ``allow_mixed_routing=True``. Returns a summary dict.
    """
    extractor = extractor or MFESpark(groups=("general", "statistical"))
    routing = effective_routing(extractor, route_mega, mega_turn_threshold)
    staging = os.path.join(output_dir, "_staged_input")
    delta_root = os.path.join(output_dir, "_staged_delta")
    delta_dir = os.path.join(delta_root, delta_id)
    lineage_dir = os.path.join(output_dir, "_lineage")
    applied_dir = os.path.join(output_dir, "_applied", delta_id)
    _guard_routing(spark, lineage_dir, routing, allow_mixed_routing)
    os.makedirs(applied_dir, exist_ok=True)

    if not os.path.exists(os.path.join(delta_dir, "_SUCCESS")):
        (
            delta_df.withColumn(
                "bucket", _bucket_of(F.col("conv_id"), n_buckets)
            )
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(delta_dir)
        )

    staged_delta = spark.read.parquet(delta_dir)
    affected = sorted(
        r["bucket"]
        for r in staged_delta.select("bucket").distinct().collect()
    )

    # combined turn source: base staging + every committed delta
    deltas = [
        os.path.join(delta_root, d)
        for d in sorted(os.listdir(delta_root))
        if os.path.exists(os.path.join(delta_root, d, "_SUCCESS"))
    ]
    base = spark.read.parquet(staging)
    all_turns = base
    for d in deltas:
        all_turns = all_turns.unionByName(spark.read.parquet(d))
    all_turns = all_turns.dropDuplicates(["conv_id", "turn_idx"])

    t_start = time.time()
    ran, skipped = [], []
    for k in affected:
        marker = os.path.join(applied_dir, f"bucket-{k}")
        if os.path.exists(marker):
            skipped.append(k)
            continue
        t0 = time.time()
        touched = (
            staged_delta.filter(F.col("bucket") == k)
            .select("conv_id")
            .distinct()
        )
        part = (
            all_turns.filter(F.col("bucket") == k)
            .drop("bucket")
            .join(F.broadcast(touched), "conv_id", "semi")
        )
        vec = extract_at_final_turn(
            part,
            extractor,
            route_mega=route_mega,
            mega_turn_threshold=mega_turn_threshold,
        )
        new_rows = vec.select(
            "conv_id",
            "ts",
            "n_turns",
            F.map_keys("features").alias("mtf_names"),
            F.map_values("features").alias("mtf_vals"),
        )
        bucket_path = os.path.join(output_dir, f"bucket={k}")
        # crash recovery: a kill between the two swap renames leaves
        # the live path missing and the old content parked — restore
        # it before recomputing (the replay then proceeds normally)
        old = os.path.join(output_dir, f"_old-{delta_id}-bucket-{k}")
        if not os.path.exists(bucket_path) and os.path.exists(old):
            os.rename(old, bucket_path)
        keep = spark.read.parquet(bucket_path).join(
            F.broadcast(touched), "conv_id", "anti"
        )
        # tmp/old names deliberately do NOT start with "bucket=": a
        # crash must never leave a directory that read_backfill's
        # bucket=* glob would pick up
        tmp = os.path.join(output_dir, f"_tmp-{delta_id}-bucket-{k}")
        in_rows, out_rows = _write_counted(keep.unionByName(new_rows), tmp)
        # directory swap: the tmp write is fully committed before the
        # live path changes, so readers never see a partial bucket
        os.rename(bucket_path, old)
        os.rename(tmp, bucket_path)
        shutil.rmtree(old)
        _append_lineage(
            lineage_dir,
            (
                k,
                in_rows,
                out_rows,
                round(time.time() - t0, 3),
                f"{ENGINE_VERSION}+{delta_id}",
                routing,
            ),
        )
        with open(marker, "w") as fh:
            fh.write(delta_id)
        ran.append(k)
    return {
        "delta_id": delta_id,
        "buckets_affected": affected,
        "buckets_run": ran,
        "buckets_skipped": skipped,
        "wall_sec": round(time.time() - t_start, 3),
    }


def read_backfill(spark: SparkSession, output_dir: str) -> DataFrame:
    """Read the completed backfill back as (conv_id, ts, n_turns,
    names, vals)."""
    return spark.read.option("basePath", output_dir).parquet(
        os.path.join(output_dir, "bucket=*")
    )


def read_lineage(spark: SparkSession, output_dir: str) -> DataFrame:
    """Lineage audit trail. mergeSchema covers dirs written before the
    routing column existed (those rows read routing=null = unknown)."""
    return spark.read.option("mergeSchema", "true").parquet(
        os.path.join(output_dir, "_lineage")
    )
