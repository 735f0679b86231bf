"""Resumability + lineage invariants (north rule): a killed backfill
restarts from the last committed bucket and converges to output
bit-identical with a single uninterrupted run."""

from __future__ import annotations

import os
import shutil

from pymfe_spark.operators.backfill import (
    backfill,
    read_backfill,
    read_lineage,
)
from pymfe_spark.operators.base import turns
from pymfe_spark.plans.extractor import MFESpark
from tests.conftest import SF_SMOKE

OUT_A = "/tmp/backfill_a"
OUT_B = "/tmp/backfill_b"


def _clean(*dirs):
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def test_backfill_resume_matches_single_run(spark):
    _clean(OUT_A, OUT_B)
    t = turns(spark, SF_SMOKE)
    ex = MFESpark(groups=("general",))

    # uninterrupted run
    s1 = backfill(spark, t, OUT_A, n_buckets=4, extractor=ex)
    assert s1["buckets_run"] == [0, 1, 2, 3]

    # "killed" run: complete only buckets 0-1, then simulate the kill by
    # deleting bucket 2+3 mid-state and restarting
    s2 = backfill(spark, t, OUT_B, n_buckets=4, extractor=ex)
    shutil.rmtree(os.path.join(OUT_B, "bucket=2"))
    shutil.rmtree(os.path.join(OUT_B, "bucket=3"))
    s3 = backfill(spark, t, OUT_B, n_buckets=4, extractor=ex)
    assert s3["buckets_skipped"] == [0, 1]
    assert s3["buckets_run"] == [2, 3]

    a = (
        read_backfill(spark, OUT_A)
        .orderBy("conv_id")
        .toPandas()
        .reset_index(drop=True)
    )
    b = (
        read_backfill(spark, OUT_B)
        .orderBy("conv_id")
        .toPandas()
        .reset_index(drop=True)
    )
    assert a.equals(b), "resumed backfill differs from single run"

    # idempotence: a third invocation does nothing
    s4 = backfill(spark, t, OUT_B, n_buckets=4, extractor=ex)
    assert s4["buckets_run"] == []


def test_lineage_accounts_for_every_conversation(spark):
    t = turns(spark, SF_SMOKE)
    lin = read_lineage(spark, OUT_A).toPandas()
    assert set(lin["bucket"]) == {0, 1, 2, 3}
    assert lin["input_rows"].sum() == t.count()
    n_convs = t.select("conv_id").distinct().count()
    assert lin["output_rows"].sum() == n_convs
    from pymfe_spark.operators.backfill import ENGINE_VERSION

    assert (lin["engine_version"] == ENGINE_VERSION).all()
    assert (lin["wall_sec"] > 0).all()
    # round-5 (ADVICE): every lineage row records the mega-routing mode
    assert (lin["routing"] == "hybrid@100000").all()


def test_backfill_refuses_mixed_routing(spark, tmp_path):
    """ADVICE r4 (medium): one output dir must not silently mix
    hybrid-estimated and full-kernel feature semantics. A resume or an
    incremental under a different routing mode than the lineage records
    raises; allow_mixed_routing=True overrides; pre-routing-column dirs
    count as unknown (also refused)."""
    import pytest
    from pymfe_spark.operators.backfill import (
        LINEAGE_SCHEMA,
        backfill_incremental,
    )

    t = turns(spark, SF_SMOKE)
    ex = MFESpark(groups=("general",))
    out = str(tmp_path / "bf_mix")
    backfill(spark, t, out, n_buckets=2, extractor=ex)

    # resume under a different threshold -> different routing string
    with pytest.raises(ValueError, match="mix"):
        backfill(
            spark, t, out, n_buckets=2, extractor=ex,
            mega_turn_threshold=500,
        )
    # incremental under route_mega=False -> 'pure' vs recorded hybrid
    with pytest.raises(ValueError, match="routing"):
        backfill_incremental(
            spark, t.limit(50), out, delta_id="dx", n_buckets=2,
            extractor=ex, route_mega=False,
        )
    # matching mode resumes fine; explicit override also passes
    s = backfill(spark, t, out, n_buckets=2, extractor=ex)
    assert s["buckets_run"] == []
    s2 = backfill(
        spark, t, out, n_buckets=2, extractor=ex,
        mega_turn_threshold=500, allow_mixed_routing=True,
    )
    assert s2["buckets_run"] == []

    # legacy dir: lineage rows written before the routing column
    legacy = str(tmp_path / "bf_legacy")
    backfill(spark, t, legacy, n_buckets=2, extractor=ex)
    import shutil as _sh

    lin_dir = legacy + "/_lineage"
    old = read_lineage(spark, legacy).drop("routing")
    pdf = old.toPandas()
    _sh.rmtree(lin_dir)
    spark.createDataFrame(
        pdf, LINEAGE_SCHEMA.rsplit(", ", 1)[0]
    ).write.mode("overwrite").parquet(lin_dir)
    with pytest.raises(ValueError, match="unrecorded"):
        backfill(spark, t, legacy, n_buckets=2, extractor=ex)
    # the audit trail stays readable, and a MIXED-era dir (legacy rows
    # + one routed row) reads legacy rows as routing=null via mergeSchema
    spark.createDataFrame(
        [(9, 1, 1, 0.1, "0.2.0", "hybrid@100000")], LINEAGE_SCHEMA
    ).write.mode("append").parquet(lin_dir)
    lin = read_lineage(spark, legacy).toPandas()
    assert lin["routing"].isna().sum() == len(lin) - 1


def test_incremental_delta_matches_full_recompute(spark):
    """Split the turn table by time: backfill the early turns, apply
    the late turns as a delta, and require bit-identical vectors to a
    full backfill of everything — extended conversations refreshed,
    brand-new conversations added, untouched conversations' rows (and
    untouched buckets) preserved byte-for-byte."""
    from pyspark.sql import functions as F

    from pymfe_spark.operators.backfill import backfill_incremental

    out_full, out_inc = "/tmp/backfill_full", "/tmp/backfill_inc"
    _clean(out_full, out_inc)
    t = turns(spark, SF_SMOKE)
    ex = MFESpark(groups=("general",))

    # early = every conversation's first 60% of turns (some convs drop
    # out entirely -> the delta re-introduces them as brand-new)
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id")
    frac = F.col("turn_idx") / F.max("turn_idx").over(w)
    early = t.withColumn("_f", frac).filter(F.col("_f") <= 0.6).drop("_f")
    late = t.withColumn("_f", frac).filter(F.col("_f") > 0.6).drop("_f")

    backfill(spark, t, out_full, n_buckets=4, extractor=ex)
    backfill(spark, early, out_inc, n_buckets=4, extractor=ex)
    s = backfill_incremental(
        spark, late, out_inc, delta_id="d1", n_buckets=4, extractor=ex
    )
    assert s["buckets_run"], "delta touched no bucket"

    a = (
        read_backfill(spark, out_full)
        .orderBy("conv_id")
        .toPandas()
        .reset_index(drop=True)
    )
    b = (
        read_backfill(spark, out_inc)
        .orderBy("conv_id")
        .toPandas()
        .reset_index(drop=True)
    )
    assert a.equals(b), "incremental result differs from full recompute"

    # replay idempotence: applying the same delta again is a no-op
    s2 = backfill_incremental(
        spark, late, out_inc, delta_id="d1", n_buckets=4, extractor=ex
    )
    assert s2["buckets_run"] == []
    assert s2["buckets_skipped"] == s["buckets_run"]
    _clean(out_full, out_inc)


def test_backfill_routes_mega_conversation(spark, tmp_path):
    """Round-4 default routing: a backfill containing a mega
    conversation sends it through the hybrid tier — exact-tier
    measures match the driver-side kernel truth on the FULL
    conversation, prefix-tier measures match the kernel on the
    capped prefix, and normal conversations stay bit-identical to
    the unrouted path."""
    import numpy as np
    from pyspark.sql import functions as F

    from pymfe_spark.plans.extractor import extract_at_final_turn
    from pymfe_spark.plans.hybrid import override_measures, override_names
    from tests.test_hybrid import _kernel_truth, _synth_turns, _turns_from

    ex = MFESpark(groups=("general", "statistical"), max_kernel_turns=1024)
    tdf = _turns_from(_synth_turns(spark, mega_n=3001))
    out_dir = str(tmp_path / "bf_mega")
    backfill(
        spark, tdf, out_dir, n_buckets=2, extractor=ex,
        mega_turn_threshold=500,
    )
    rows = read_backfill(spark, out_dir)
    mega = rows.filter(F.col("conv_id") == "conv_mega").collect()
    assert len(mega) == 1 and mega[0]["n_turns"] == 3001
    feats = {
        n: (float("nan") if v is None else v)
        for n, v in zip(mega[0]["mtf_names"], mega[0]["mtf_vals"])
    }

    exact_names = override_names(
        override_measures(ex), ex.cfg.summaries, ex.cfg.summary_kwargs
    )
    full = _kernel_truth(tdf, "conv_mega", ex)
    prefix = _kernel_truth(tdf, "conv_mega", ex, cap=1024)
    assert exact_names and set(feats) == set(full)
    for k, v in full.items():
        got = feats[k]
        want = v if k in exact_names else prefix[k]
        want = float("nan") if want is None else want
        assert np.isclose(got, want, rtol=1e-9, equal_nan=True), (
            k, got, want
        )

    # normal conversations: bit-identical to the unrouted path
    normal = tdf.filter(F.col("conv_id") != "conv_mega")
    unrouted = {
        (r["conv_id"], n): v
        for r in extract_at_final_turn(
            normal, ex, route_mega=False
        ).collect()
        for n, v in r["features"].items()
    }
    routed = {
        (r["conv_id"], n): v
        for r in rows.filter(F.col("conv_id") != "conv_mega").collect()
        for n, v in zip(r["mtf_names"], r["mtf_vals"])
    }
    assert set(routed) == set(unrouted)
    for k, v in unrouted.items():
        rv = routed[k]
        assert (rv == v) or (
            v is None and rv is None
        ) or (np.isnan(v) and np.isnan(rv)), (k, v, rv)


def test_backfill_falls_back_when_hybrid_unsupported(spark, tmp_path):
    """measure_time configs can't take the hybrid tier — the routed
    default must fall back to the pure kernel, not raise."""
    from pymfe_spark.plans.extractor import extract_at_final_turn

    t = turns(spark, SF_SMOKE)
    ex = MFESpark(groups=("general",), measure_time="avg")
    assert not ex.supports_hybrid()
    out = extract_at_final_turn(t, ex)  # route_mega=True default
    assert out.count() > 0


def test_appended_lineage_reads_back_with_schema_types(spark, tmp_path):
    """Rows committed by the Spark-free lineage append read back
    through read_lineage with exactly LINEAGE_SCHEMA's column types."""
    from pymfe_spark.operators.backfill import LINEAGE_SCHEMA, _append_lineage

    out = str(tmp_path / "bf_lin")
    rows = [
        (0, 120, 3, 0.25, "0.2.0", "hybrid@100000"),
        (1, 80, 2, 0.5, "0.2.0+d1", "pure"),
    ]
    for row in rows:
        _append_lineage(os.path.join(out, "_lineage"), row)
    lin = read_lineage(spark, out)
    want = spark.createDataFrame([], LINEAGE_SCHEMA).schema
    assert [(f.name, f.dataType) for f in lin.schema] == [
        (f.name, f.dataType) for f in want
    ]
    assert sorted(tuple(r) for r in lin.collect()) == rows


def test_leftover_lineage_temp_file_is_ignored(spark, tmp_path):
    """A kill between the lineage temp write and its rename leaves a
    dot-prefixed partial file in _lineage/: read_lineage and the
    routing guard must both skip it."""
    import pytest

    from pymfe_spark.operators.backfill import _append_lineage, _guard_routing

    out = str(tmp_path / "bf_tmp")
    lin_dir = os.path.join(out, "_lineage")
    os.makedirs(lin_dir)
    with open(os.path.join(lin_dir, ".part-0-dead.parquet.tmp"), "wb") as fh:
        fh.write(b"PAR1 truncated")
    # only the leftover: no lineage recorded, any routing may start
    _guard_routing(spark, lin_dir, "pure", allow_mixed_routing=False)

    _append_lineage(lin_dir, (0, 10, 1, 0.1, "0.2.0", "hybrid@100000"))
    assert read_lineage(spark, out).count() == 1
    _guard_routing(spark, lin_dir, "hybrid@100000", allow_mixed_routing=False)
    with pytest.raises(ValueError, match="mix"):
        _guard_routing(spark, lin_dir, "pure", allow_mixed_routing=False)


def test_incremental_lineage_rows_tag_and_count(spark, tmp_path):
    """Every bucket an incremental delta applies appends a lineage row
    tagged <ENGINE_VERSION>+<delta_id> whose input/output counts are
    the swapped bucket's turn and conversation counts."""
    from pyspark.sql import functions as F

    from pymfe_spark.operators.backfill import ENGINE_VERSION, backfill_incremental

    t = turns(spark, SF_SMOKE)
    ex = MFESpark(groups=("general",))
    out = str(tmp_path / "bf_inc")
    early = t.filter(F.col("turn_idx") < 4)
    late = t.filter(F.col("turn_idx") >= 4)
    backfill(spark, early, out, n_buckets=2, extractor=ex)
    s = backfill_incremental(
        spark, late, out, delta_id="d7", n_buckets=2, extractor=ex
    )
    assert s["buckets_run"]

    lin = read_lineage(spark, out).toPandas()
    inc = lin[lin["engine_version"] == f"{ENGINE_VERSION}+d7"]
    assert sorted(inc["bucket"]) == s["buckets_run"]
    truth = {
        r["bucket"]: (r["in_rows"], r["out_rows"])
        for r in read_backfill(spark, out)
        .groupBy("bucket")
        .agg(
            F.sum("n_turns").alias("in_rows"),
            F.count("*").alias("out_rows"),
        )
        .collect()
    }
    for r in inc.itertuples(index=False):
        assert (r.input_rows, r.output_rows) == truth[r.bucket], r
    assert sum(v[0] for v in truth.values()) == t.count()
