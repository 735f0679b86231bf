"""Mega-conversation hybrid extraction (plans/hybrid.py).

Contract from the round-2 verdict:
- normal conversations: BIT-IDENTICAL to the pure kernel path;
- mega conversations: exact-tier measures allclose to a
  full-conversation kernel run; prefix-tier measures equal to the
  kernel on the first ``max_kernel_turns`` turns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pymfe_spark.operators.base import turns
from pymfe_spark.plans.extractor import MFESpark as MetaFeatureExtractor
from pymfe_spark.plans.extractor import extract_batch
from pymfe_spark.plans.hybrid import override_measures, override_names
from tests.conftest import SF_SMOKE

GROUPS = ("general", "statistical", "info-theory")


def _ex(**kw):
    return MetaFeatureExtractor(groups=GROUPS, **kw)


def _collect_map(df) -> dict:
    # NULL -> NaN: the Arrow kernel's NaN can round-trip as SQL NULL;
    # both mean "undefined" here
    return {
        (r["conv_id"], r["mtf_name"]): (
            float("nan") if r["mtf_val"] is None else r["mtf_val"]
        )
        for r in df.collect()
    }


def _synth_turns(spark, mega_n: int, normal_convs: int = 6, seed: int = 7):
    """Deterministic turn table: ``normal_convs`` conversations of
    31..36 turns plus ONE mega conversation of ``mega_n`` turns."""
    rows = []
    rng = np.random.RandomState(seed)
    roles = np.array(["user", "assistant", "system"])
    tools = np.array([None, "search", "python"], dtype=object)
    t0 = 1735689600_000_000  # 2025-01-01 UTC, microseconds
    for c in range(normal_convs):
        n = 31 + c
        for i in range(n):
            rows.append(
                (
                    f"conv_{c:03d}",
                    i,
                    str(roles[rng.randint(3)]),
                    tools[rng.randint(3)],
                    "x" * int(rng.randint(1, 400)),
                    t0 + c * 10**9 + i * 31_000_000,
                )
            )
    for i in range(mega_n):
        rows.append(
            (
                "conv_mega",
                i,
                str(roles[i % 3]),
                tools[i % 3],
                "y" * int(1 + (i * 2654435761) % 500),
                t0 + 5 * 10**10 + i * 1_000_000,
            )
        )
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "tool", "text", "us"]
    )
    df = spark.createDataFrame(pdf).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role",
        "tool",
        "text",
        F.timestamp_micros(F.col("us")).alias("ts"),
    )
    df.createOrReplaceTempView("hybrid_synth")
    return df


def _turns_from(df):
    """operators.base.turns semantics over an in-memory transcript df."""
    from pymfe_spark.operators.base import conv_window

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        F.length("text").cast("double").alias("text_len"),
        (
            (us - F.lag(us).over(conv_window())).cast("double") / F.lit(1e6)
        ).alias("ts_delta_s"),
    )


def _kernel_truth(tdf, conv_id: str, ex, cap: int | None = None):
    """Driver-side kernel run over one conversation's full (or capped)
    turns — the truth source the hybrid must match."""
    pdf = (
        tdf.filter(F.col("conv_id") == conv_id)
        .select("conv_id", "turn_idx", "role", "tool", "text_len", "ts_delta_s")
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    if cap is not None:
        pdf = pdf.iloc[:cap].reset_index(drop=True)
    out = extract_batch(
        pdf,
        ex.measure_names,
        ex.cfg.summaries,
        ex.cfg.max_kernel_turns,
        assume_sorted=True,
        cfg=ex.cfg,
    )
    return {r.mtf_name: r.mtf_val for r in out.itertuples(index=False)}


def test_mega_fixture_distributed_and_bit_identical(spark):
    """The planted mega conversation must be task-side generated (no
    fixture bytes in the task binary) and bit-identical to its pandas
    twin — the frozen hybrid golden depends on both."""
    from pymfe_spark.testing import mega_conv_df, mega_conv_pandas

    n = 60_000
    df = mega_conv_df(spark, n)
    assert df.rdd.getNumPartitions() > 1, "fixture must generate distributed"
    got = df.toPandas().sort_values("turn_idx").reset_index(drop=True)
    exp = mega_conv_pandas(n)
    assert len(got) == n
    for c in ("text_len", "ts_delta_s"):
        assert np.array_equal(
            got[c].to_numpy(), exp[c].to_numpy(), equal_nan=True
        ), c
    assert (got["ts"].to_numpy() == exp["ts"].to_numpy()).all()
    for c in ("conv_id", "turn_idx", "role"):
        assert got[c].astype(str).equals(exp[c].astype(str)), c
    assert got["tool"].fillna("·").equals(exp["tool"].fillna("·"))


def test_hybrid_bit_identical_on_normal_data(spark):
    """No conversation crosses the threshold -> the hybrid IS the
    kernel path, bit for bit."""
    ex = _ex()
    t = turns(spark, SF_SMOKE)
    pure = _collect_map(ex.extract(t))
    hyb = _collect_map(ex.extract_hybrid(t, mega_turn_threshold=100_000))
    assert pure.keys() == hyb.keys()
    for k, v in pure.items():
        hv = hyb[k]
        assert (v == hv) or (np.isnan(v) and np.isnan(hv)), (
            k,
            v,
            hv,
        )


def test_hybrid_mega_exact_tier_matches_full_kernel(spark):
    """Exact-tier measures of the planted mega conversation match a
    FULL-conversation kernel run (allclose), while normal
    conversations stay bit-identical to extract()."""
    ex = _ex()
    df = _synth_turns(spark, mega_n=20_000)
    tdf = _turns_from(df)
    hyb = _collect_map(ex.extract_hybrid(tdf, mega_turn_threshold=5_000))

    ov = override_measures(ex)
    assert set(("nr_inst", "mean", "sd", "skewness", "kurtosis")) <= set(ov)
    names = override_names(ov, ex.cfg.summaries, ex.cfg.summary_kwargs)
    truth_full = _kernel_truth(tdf, "conv_mega", ex)
    for n in sorted(names):
        got = hyb[("conv_mega", n)]
        want = truth_full[n]
        assert np.allclose(got, want, rtol=1e-9, atol=1e-9, equal_nan=True), (
            n,
            got,
            want,
        )

    # prefix tier: every non-override measure equals the kernel on the
    # first max_kernel_turns turns
    truth_prefix = _kernel_truth(
        tdf, "conv_mega", ex, cap=ex.cfg.max_kernel_turns
    )
    rest = [n for n in truth_prefix if n not in names]
    assert rest, "prefix tier must cover the holistic measures"
    for n in rest:
        got = hyb[("conv_mega", n)]
        want = truth_prefix[n]
        assert np.allclose(got, want, rtol=0, atol=0, equal_nan=True), (
            n,
            got,
            want,
        )

    # normal conversations: bit-identical to the pure path
    pure = _collect_map(ex.extract(tdf.filter(F.col("conv_id") != "conv_mega")))
    for k, v in pure.items():
        hv = hyb[k]
        assert (v == hv) or (np.isnan(v) and np.isnan(hv)), (k, v, hv)


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_hybrid_plan_shape_without_and_with_mega(spark):
    """With no conversation over the threshold, the routed entry points
    plan exactly what extract() plans: one kernel pass, no anti-join
    split. A planted mega conversation still brings the prefix kernel
    pass and the exact tier's finishing pass."""
    from pymfe_spark.plans.extractor import extract_at_final_turn

    ex = _ex()
    t = turns(spark, SF_SMOKE)
    for df in (ex.extract_hybrid(t), extract_at_final_turn(t, ex)):
        plan = _optimized_plan(df)
        assert plan.count("MapInPandas") == 1, plan
        assert "LeftAnti" not in plan, plan

    tdf = _turns_from(_synth_turns(spark, mega_n=3001))
    for df in (
        ex.extract_hybrid(tdf, mega_turn_threshold=500),
        extract_at_final_turn(tdf, ex, mega_turn_threshold=500),
    ):
        plan = _optimized_plan(df)
        # normal kernel + prefix kernel + exact-tier finish
        assert plan.count("MapInPandas") == 3, plan
        assert "pmod" in plan, plan  # the exact tier's salted aggregation


def test_hybrid_rejects_unsupported_modes(spark):
    t = turns(spark, SF_SMOKE)
    with pytest.raises(ValueError, match="measure_time"):
        MetaFeatureExtractor(
            groups=("general",), measure_time="total"
        ).extract_hybrid(t)
    with pytest.raises(ValueError, match="relative"):
        MetaFeatureExtractor(
            groups=("general", "relative")
        ).extract_hybrid(t)


def test_override_set_empty_under_rescale(spark):
    """rescale / transform_cat change the N view -> the closed-form
    exact tier must stand down (prefix estimates carry the mega conv)."""
    assert override_measures(_ex(rescale="standard")) == ()
    assert override_measures(_ex(transform_cat="one-hot")) == ()
    # a config that does NOT change the N view keeps the exact tier:
    # transform_num only toggles the discretized twin for info-theory
    assert override_measures(_ex(transform_num=False)) == override_measures(
        _ex()
    )
    assert len(override_measures(_ex())) > 0
