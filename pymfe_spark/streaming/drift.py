"""Streaming drift monitoring — the live front end of
``operators/drift.py``, built from its stages.

Production shape: the REFERENCE profile (bin edges + smoothed
fractions) is computed batch-side from the curated reference corpus by
the batch stages (midpoint split -> binning rule -> two-window counts
-> collect, so a degenerate window raises here as it does in the batch
operators) and shipped as literals (config-sized, like IVF
centroids). The stream only bins arriving events by the same binning
rule with the profile's literal edges and maintains per-(event-time
window, bin) counts — one watermarked windowed aggregation, the only
stateful stage. PSI per time window is then assembled from the emitted
counts and the static profile by the same smoothed-PSI finisher on
Python floats (``psi_from_counts``), in the consumer or a trivial batch
job: a second aggregation layer inside the same streaming query would
be a multi-stateful-agg plan, which Structured Streaming rejects and
which the monitor does not need.

``streaming_drift_bin_counts`` and its batch twin
``batch_drift_bin_counts`` share one binned window-count body and
differ only in their source frame. The counts are integers, so the
stream == batch equality (pytest) is exact, and PSI computed from
equal counts is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pymfe_spark.functions.moments import PY
from pymfe_spark.operators.base import turns
from pymfe_spark.operators.drift import (
    N_BINS,
    _binned,
    _counts,
    bin_of,
    psi_term,
    smoothed_frac,
)

TURN_STREAM_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def reference_bin_profile(
    spark: SparkSession, sf_dir: str, n_bins: int = N_BINS
) -> dict:
    """Batch-side reference profile of text_len over the FIRST half of
    the corpus time range: bin edges + Laplace-smoothed fractions.
    Returns a plain dict (config-sized) for shipping into the stream
    as literals. One Spark job."""
    binned, rng = _binned(turns(spark, sf_dir), F.col("text_len"), F.col("ts"), n_bins)
    rows = sorted(
        _counts(binned, n_bins).join(F.broadcast(rng)).collect(),
        key=lambda row: row["key"],
    )
    return {
        "l_min": rows[0]["l_min"],
        "l_max": rows[0]["l_max"],
        "n_bins": n_bins,
        "ref_fracs": [
            smoothed_frac(row["n_ref_key"], row["n_ref"], row["k"]) for row in rows
        ],
    }


def _window_bin_counts(src: DataFrame, profile: dict, window: str) -> DataFrame:
    """``(win_start, win_end, bin, n_cur)``: ``src(ts, v)`` binned by
    the profile's literal edges, counted per (event-time window, bin);
    a null ``v`` is no bin."""
    lo, hi = int(profile["l_min"]), int(profile["l_max"])
    binned = src.where(F.col("v").isNotNull()).select(
        "ts", bin_of(F.col("v"), lo, hi, profile["n_bins"]).alias("bin")
    )
    agg = binned.groupBy(F.window("ts", window), "bin").agg(
        F.count("*").alias("n_cur")
    )
    return agg.select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        "bin",
        "n_cur",
    )


def streaming_drift_bin_counts(
    spark: SparkSession,
    input_dir: str,
    profile: dict,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over a turn directory -> bin text lengths by the
    static reference edges (a projection) -> watermarked
    per-(event-time window, bin) counts. Output:
    ``(win_start, win_end, bin, n_cur)``."""
    reader = spark.readStream.schema(TURN_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = (
        reader.parquet(input_dir)
        .select("ts", F.length("text").cast("long").alias("v"))
        .withWatermark("ts", watermark)
    )
    return _window_bin_counts(src, profile, window)


def batch_drift_bin_counts(
    spark: SparkSession, sf_dir: str, profile: dict, window: str = "10 minutes"
) -> DataFrame:
    """Batch twin of the streaming aggregation (same binning, same
    event-time windows) for the stream == batch equality test."""
    src = turns(spark, sf_dir).select(
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("text_len").cast("long").alias("v"),
    )
    return _window_bin_counts(src, profile, window)


def psi_from_counts(counts, ref_fracs, n_bins: int = N_BINS) -> float:
    """Assemble the PSI of one time window from its emitted bin counts
    (dict bin -> n_cur) and the static reference fractions."""
    n_cur = sum(counts.values())
    return sum(
        (
            psi_term(ref_fracs[b], smoothed_frac(counts.get(b, 0), n_cur, n_bins), PY)
            for b in range(n_bins)
        ),
        0.0,
    )
