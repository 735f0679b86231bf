"""Streaming sessionization must agree with the batch sessionizer:
same gap threshold -> same (conv, session) turn counts."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from pymfe_spark.operators.temporal import sessionized
from pymfe_spark.sources import transcripts
from pymfe_spark.streaming import streaming_session_stats
from tests.conftest import SF_SMOKE

STREAM_IN = "/tmp/stream_in"
CKPT = "/tmp/stream_ckpt"


def test_streaming_sessions_match_batch(spark):
    shutil.rmtree(STREAM_IN, ignore_errors=True)
    shutil.rmtree(CKPT, ignore_errors=True)
    transcripts(spark, SF_SMOKE).write.parquet(STREAM_IN)

    out = streaming_session_stats(spark, STREAM_IN, gap="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .option("checkpointLocation", CKPT)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    stream_pdf = (
        spark.table("sess_stream")
        .select("conv_id", "n_turns")
        .toPandas()
        .groupby("conv_id")["n_turns"]
        .apply(lambda s: sorted(s.tolist()))
    )

    batch_pdf = (
        sessionized(spark, SF_SMOKE, gap_s=1800.0)
        .groupBy("conv_id", "session_id")
        .agg(F.count("*").alias("n_turns"))
        .toPandas()
        .groupby("conv_id")["n_turns"]
        .apply(lambda s: sorted(s.tolist()))
    )
    assert stream_pdf.to_dict() == batch_pdf.to_dict(), (
        "streaming session_window disagrees with batch sessionization"
    )


def test_streaming_drops_late_data_after_session_finalized(spark):
    """Watermark semantics (the streaming no-late-leakage contract):
    once the watermark passes a session's end and the session is
    finalized (emitted in append mode), a late turn for it must be
    DROPPED — it neither grows the closed session nor spawns a second
    emitted session. (Rows arriving before finalization merge — the
    standard Spark session-window semantics; the watermark bounds how
    long a session stays open, verified empirically batch by batch.)"""
    import time as _t

    import pandas as pd

    src = "/tmp/late_in"
    ckpt = "/tmp/late_ckpt"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    def write_file(rows):
        pdf = pd.DataFrame(
            rows,
            columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.2)  # distinct mod-times -> deterministic batch order

    # batch 0: the session (2 turns, window 10:00-10:35)
    write_file(
        [
            ("c1", 0, "user", "hello", None, "2026-01-01 10:00:00"),
            ("c1", 1, "assistant", "hi", None, "2026-01-01 10:05:00"),
        ]
    )
    # batches 1-2: clock turns advance the 2h watermark to 18:00+,
    # far past the session end -> the session finalizes and is emitted
    write_file([("clock", 0, "user", "t1", None, "2026-01-01 20:00:00")])
    write_file([("clock", 1, "user", "t2", None, "2026-01-01 20:01:00")])
    # batch 3: a LATE c1 turn (10:06, eight hours below the watermark)
    write_file(
        [
            ("c1", 2, "user", "late!", None, "2026-01-01 10:06:00"),
            ("clock", 2, "user", "t3", None, "2026-01-01 20:02:00"),
        ]
    )
    write_file([("clock", 3, "user", "t4", None, "2026-01-01 20:03:00")])

    from pymfe_spark.streaming import streaming_session_stats

    out = streaming_session_stats(
        spark, src, gap="30 minutes", watermark="2 hours",
        max_files_per_trigger=1,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("late_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    res = spark.table("late_stream").toPandas()
    c1 = res[res["conv_id"] == "c1"]
    assert len(c1) == 1, c1
    assert int(c1.iloc[0]["n_turns"]) == 2
    assert pd.Timestamp(c1.iloc[0]["last_ts"]) == pd.Timestamp(
        "2026-01-01 10:05:00"
    )


def test_stateful_incremental_features_match_batch(spark):
    """applyInPandasWithState over multiple micro-batches must equal a
    one-shot batch aggregation: the state merge is the partial-
    aggregate combine (streaming/stateful.py)."""
    import math
    import shutil

    import pandas as pd

    from pymfe_spark.streaming.stateful import streaming_incremental_features

    src = "/tmp/stateful_in"
    ckpt = "/tmp/stateful_ckpt"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    # several files -> maxFilesPerTrigger=1 forces several micro-batches
    transcripts(spark, SF_SMOKE).repartition(4).write.parquet(src)

    out = streaming_incremental_features(spark, src, max_files_per_trigger=1)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_stream")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    updates = spark.table("stateful_stream").toPandas()
    # update mode appends one row per (conv, micro-batch); the final
    # state is the row with the max n_turns per conv
    final = updates.sort_values("n_turns").groupby("conv_id").last()

    batch = (
        transcripts(spark, SF_SMOKE)
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.avg(F.length("text")).alias("mean_len"),
            F.stddev_samp(F.length("text")).alias("sd_len"),
        )
        .toPandas()
        .set_index("conv_id")
    )
    assert len(final) == len(batch)
    for conv, row in batch.iterrows():
        got = final.loc[conv]
        assert got["n_turns"] == row["n_turns"], conv
        assert math.isclose(got["mean_len"], row["mean_len"], rel_tol=1e-9)
        assert math.isclose(got["sd_len"], row["sd_len"], rel_tol=1e-6)

    # the FULL algebraic vector must agree with the batch stride-1 SQL
    # twin at each conversation's final turn (expanding_mfe_sql is
    # itself DuckDB-oracle-checked, so this chains streaming == batch
    # == oracle); the SQL side rounds to 6 decimals -> abs 1e-6
    from pymfe_spark.operators.temporal import expanding_mfe_sql

    pit = expanding_mfe_sql(spark, SF_SMOKE).toPandas()
    last = (
        pit.sort_values("turn_idx").groupby("conv_id").last()
    )
    cols = [
        ("nr_class", "nr_class"),
        ("mean_len", "mean_len"),
        ("sd_len", "sd_len"),
        ("min_len", "min_len"),
        ("max_len", "max_len"),
        ("range_len", "range_len"),
        ("skewness_len", "skewness_len"),
        ("kurtosis_len", "kurtosis_len"),
        ("role_ent", "class_ent"),
    ]
    for conv in batch.index:
        got, exp = final.loc[conv], last.loc[conv]
        assert got["n_turns"] == exp["nr_inst"], conv
        for s_col, b_col in cols:
            a, b = got[s_col], exp[b_col]
            assert (
                (pd.isna(a) and pd.isna(b))
                or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
            ), (conv, s_col, a, b)


def test_streaming_dedup_matches_batch_keyset(spark):
    """Multi-micro-batch replayed documents: the streaming dedup must
    emit each normalized text exactly once, and its kept key set must
    equal the batch groupBy's."""
    import pandas as pd

    from pymfe_spark.streaming.sessions import streaming_dedup_exact

    in_dir, ckpt = "/tmp/dedup_stream_in", "/tmp/dedup_stream_ckpt"
    shutil.rmtree(in_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    # three files = three micro-batches; dups planted within AND
    # across batches (including case/whitespace variants)
    base = pd.Timestamp("2025-03-01 00:00:00")
    batches = [
        [(1, "alpha beta", 0), (2, "gamma delta", 1), (3, "Alpha beta ", 2)],
        [(4, "alpha beta", 60), (5, "epsilon zeta", 61)],
        [(6, "GAMMA DELTA", 120), (7, "eta theta", 121), (8, "eta theta", 122)],
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            [
                {"doc_id": d, "text": t, "ts": base + pd.Timedelta(seconds=s)}
                for d, t, s in rows
            ]
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            in_dir
        )

    out = streaming_dedup_exact(spark, in_dir, max_files_per_trigger=1)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("dedup_stream").toPandas()

    all_rows = [r for b in batches for r in b]
    expect_norms = {t.strip().lower() for _, t, _ in all_rows}
    assert sorted(got["norm"]) == sorted(expect_norms)
    assert got["norm"].is_unique
    shutil.rmtree(in_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_pack_sequences_matches_batch(spark):
    """The offset-carrying streaming packer over doc_id-ordered
    micro-batches must reproduce the batch pack_sequences plan
    bit-for-bit (streaming/packing.py contract: monotone ingest ids ->
    streamed assignment == batch assignment)."""
    import shutil
    import time as _t

    from pymfe_spark.operators.packing import pack_sequences_df
    from pymfe_spark.streaming.packing import streaming_pack_sequences

    src = "/tmp/pack_stream_in"
    ckpt = "/tmp/pack_stream_ckpt"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    n = docs.count()
    cuts = [0, n // 3, 2 * n // 3, n]
    for lo, hi in zip(cuts, cuts[1:]):
        (
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        _t.sleep(1.2)  # distinct mod-times -> deterministic batch order

    out = streaming_pack_sequences(spark, src, max_files_per_trigger=1)
    q = (
        out.writeStream.format("memory")
        .queryName("pack_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    cols = [
        "doc_id", "shard", "n_tokens", "start_offset",
        "chunk_first", "chunk_last", "n_chunks",
    ]
    streamed = (
        spark.table("pack_stream").toPandas()[cols]
        .sort_values("doc_id").reset_index(drop=True)
    )
    batch = (
        pack_sequences_df(docs).toPandas()[cols]
        .sort_values("doc_id").reset_index(drop=True)
    )
    assert len(streamed) == len(batch) > 0
    assert streamed.astype("int64").equals(batch.astype("int64"))


def test_streaming_neardup_candidates_match_batch(spark):
    """Multi-micro-batch streamed banded-MinHash candidates must equal
    the batch banded_candidate_pairs set exactly (no bucket saturates
    at this scale, so the cap-divergence clause never triggers)."""
    import pandas as pd

    from pymfe_spark.operators.dedup import (
        banded_candidate_pairs,
        gram_hash_table,
    )
    from pymfe_spark.streaming.neardup import streaming_neardup_candidates

    in_dir, ckpt = "/tmp/neardup_stream_in", "/tmp/neardup_stream_ckpt"
    shutil.rmtree(in_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    base = pd.Timestamp("2025-03-01 00:00:00")
    # three micro-batches split by doc_id residue
    for i in range(3):
        (
            docs.filter(F.pmod("doc_id", F.lit(3)) == i)
            .withColumn("ts", F.lit(base))
            .coalesce(1)
            .write.mode("append")
            .parquet(in_dir)
        )

    out = streaming_neardup_candidates(spark, in_dir, max_files_per_trigger=1)
    q = (
        out.writeStream.format("memory")
        .queryName("neardup_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("neardup_stream").toPandas()
    stream_pairs = set(zip(got["doc_a"], got["doc_b"]))

    batch = banded_candidate_pairs(gram_hash_table(spark, SF_SMOKE)).toPandas()
    batch_pairs = set(zip(batch["doc_a"], batch["doc_b"]))

    assert len(batch_pairs) > 0
    assert stream_pairs == batch_pairs, (
        f"stream-only: {sorted(stream_pairs - batch_pairs)[:5]}, "
        f"batch-only: {sorted(batch_pairs - stream_pairs)[:5]}"
    )
    # per-bucket pair events are unique (state dedups within AND across
    # micro-batches)
    assert not got.duplicated(["band", "bk", "doc_a", "doc_b"]).any()
    shutil.rmtree(in_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_drift_counts_match_batch(spark):
    """The streaming drift monitor's per-(event-time window, bin)
    counts over replayed turn files must equal the batch twin exactly
    (integer counts), and the per-window PSI assembled from them must
    be finite and nonnegative."""
    from pymfe_spark.sources import transcripts
    from pymfe_spark.streaming.drift import (
        batch_drift_bin_counts,
        psi_from_counts,
        reference_bin_profile,
        streaming_drift_bin_counts,
    )

    in_dir, ckpt = "/tmp/drift_stream_in", "/tmp/drift_stream_ckpt"
    shutil.rmtree(in_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    t = transcripts(spark, SF_SMOKE)
    for i in range(3):
        t.filter(F.pmod(F.crc32(F.col("conv_id")), F.lit(3)) == i).coalesce(
            1
        ).write.mode("append").parquet(in_dir)

    profile = reference_bin_profile(spark, SF_SMOKE)
    out = streaming_drift_bin_counts(
        spark, in_dir, profile, window="6 hours", max_files_per_trigger=1
    )
    q = (
        out.writeStream.format("memory")
        .queryName("drift_stream")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = (
        spark.table("drift_stream")
        .toPandas()
        .sort_values(["win_start", "bin"])
        .reset_index(drop=True)
    )
    batch = (
        batch_drift_bin_counts(spark, SF_SMOKE, profile, window="6 hours")
        .toPandas()
        .sort_values(["win_start", "bin"])
        .reset_index(drop=True)
    )
    assert len(streamed) == len(batch) > 0
    assert streamed.equals(batch)

    one_win = streamed[streamed["win_start"] == streamed["win_start"].iloc[0]]
    psi = psi_from_counts(
        dict(zip(one_win["bin"], one_win["n_cur"])), profile["ref_fracs"]
    )
    assert psi >= 0.0 and psi == psi  # finite, nonnegative
    shutil.rmtree(in_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_neardup_bucket_saturation_bounds_state(spark):
    """Round-2 verdict #6: BOUNDED STATE under a mega bucket. 200
    identical docs collapse to ONE bucket per band (16 buckets); the
    saturation cap (64) must (a) cap emitted pairs at 16 x C(64,2),
    (b) emit NOTHING in micro-batches after saturation, and (c) hold
    total state rows at the bucket count regardless of corpus size."""
    import pandas as pd

    from pymfe_spark.operators.dedup import BND_B, MAX_BAND_BUCKET
    from pymfe_spark.streaming.neardup import streaming_neardup_candidates

    src, ckpt = "/tmp/satur_in", "/tmp/satur_ckpt"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    text = (
        "identical boilerplate text repeated across every document in "
        "the mega cluster for saturation testing purposes"
    )
    base = pd.Timestamp("2025-03-01 00:00:00")
    for i in range(3):  # 3 micro-batches: 0-66, 67-133, 134-199
        pdf = pd.DataFrame(
            {
                "doc_id": range(i * 67, min((i + 1) * 67, 200)),
                "text": text,
                "ts": base,
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            src
        )
        import time as _t

        _t.sleep(1.2)

    out = streaming_neardup_candidates(spark, src, max_files_per_trigger=1)
    q = (
        out.writeStream.format("memory")
        .queryName("satur_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    progress = q.recentProgress
    got = spark.table("satur_stream").toPandas()

    cap_pairs = MAX_BAND_BUCKET * (MAX_BAND_BUCKET - 1) // 2
    assert len(got) == BND_B * cap_pairs, (
        f"expected {BND_B} bands x C({MAX_BAND_BUCKET},2)={cap_pairs} "
        f"pairs, got {len(got)}"
    )
    # saturation: later micro-batches emit nothing
    out_rows = [p["sink"]["numOutputRows"] for p in progress if p["sink"]]
    assert out_rows[0] > 0 and all(r == 0 for r in out_rows[1:]), out_rows
    # bounded state: one state row per bucket, NOT per doc
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progress
        if p.get("stateOperators")
    ]
    assert max(state_rows) <= BND_B, (
        f"state grew past the bucket count: {state_rows}"
    )
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_session_state_evicted_after_watermark(spark):
    """Round-2 verdict #6: WATERMARK EVICTION observed. Sessions whose
    end falls behind the advancing watermark must leave the state
    store (numRowsRemoved > 0, final numRowsTotal < peak)."""
    import time as _t

    import pandas as pd

    src, ckpt = "/tmp/evict_in", "/tmp/evict_ckpt"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    def write_file(rows):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            src
        )
        _t.sleep(1.2)

    # batch 0: 20 one-turn sessions at 10:00
    write_file(
        [
            (f"c{i}", 0, "user", "hello", None, "2026-01-01 10:00:00")
            for i in range(20)
        ]
    )
    # batch 1: watermark jumps to ~18:00 -> the 20 sessions finalize
    write_file([("clock", 0, "user", "t", None, "2026-01-01 20:00:00")])
    # batch 2: one more tick so eviction metrics land in a progress row
    write_file([("clock", 1, "user", "t", None, "2026-01-01 20:30:00")])

    out = streaming_session_stats(
        spark, src, gap="30 minutes", watermark="2 hours",
        max_files_per_trigger=1,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("evict_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    progress = q.recentProgress
    states = [
        p["stateOperators"][0]
        for p in progress
        if p.get("stateOperators")
    ]
    totals = [s["numRowsTotal"] for s in states]
    removed = sum(s.get("numRowsRemoved", 0) for s in states)
    assert removed >= 20, f"no eviction observed: removed={removed}"
    assert totals[-1] < max(totals), f"state never shrank: {totals}"
    res = spark.table("evict_stream").toPandas()
    assert len(res[res.conv_id != "clock"]) == 20  # all sessions emitted
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
