"""PSI drift monitor: planted-shift sensitivity and null-case
stability (oracle value parity is covered by test_oracle_parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pymfe_spark.operators.drift import feature_drift_psi, psi_bins
from tests.conftest import SF_SMOKE


def _synth(spark, shift: int):
    """4000 rows over 4000 seconds; value ~ deterministic LCG in
    [0, 100), plus ``shift`` on the second half of the time range."""
    return spark.range(4000).select(
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("ts0"),
        (F.col("id") * F.lit(1103515245) % F.lit(100)).alias("v0"),
        F.col("id"),
    ).select(
        (F.col("ts0") + F.make_interval(secs=F.col("id"))).alias("ts"),
        F.when(F.col("id") >= 2000, F.col("v0") + F.lit(shift))
        .otherwise(F.col("v0"))
        .alias("v"),
    )


def test_psi_detects_planted_shift(spark):
    stable = psi_bins(
        _synth(spark, 0), F.col("v"), F.col("ts")
    ).toPandas()
    drifted = psi_bins(
        _synth(spark, 60), F.col("v"), F.col("ts")
    ).toPandas()
    assert len(stable) == len(drifted) == 10
    assert stable["psi_term"].sum() < 0.01, "stable halves must read ~0"
    assert drifted["psi_term"].sum() > 0.25, "a 60%-range shift must alarm"


def test_psi_fractions_are_normalized(spark):
    pdf = feature_drift_psi(spark, SF_SMOKE).toPandas()
    assert len(pdf) == 10
    assert list(pdf.sort_values("bin")["bin"]) == list(range(10))
    # smoothed fractions sum to 1 within rounding
    assert abs(pdf["ref_frac"].sum() - 1.0) < 1e-4
    assert abs(pdf["cur_frac"].sum() - 1.0) < 1e-4
    # counts partition the corpus
    assert (pdf["n_ref"] + pdf["n_cur"]).sum() > 0


def test_categorical_psi_detects_planted_mix_shift(spark):
    from pymfe_spark.operators.drift import psi_categories

    def synth(shifted: bool):
        # categories a/b/c at 70/20/10 in the reference half; the
        # drifted second half flips to 10/20/70
        return spark.range(3000).select(
            (
                F.to_timestamp(F.lit("2025-01-01 00:00:00"))
                + F.make_interval(secs=F.col("id"))
            ).alias("ts"),
            F.when(
                (F.col("id") >= 1500) & F.lit(shifted),
                F.element_at(
                    F.array(F.lit("c"), F.lit("c"), F.lit("c"), F.lit("c"),
                            F.lit("c"), F.lit("c"), F.lit("c"), F.lit("b"),
                            F.lit("b"), F.lit("a")),
                    (F.col("id") % 10 + 1).cast("int"),
                ),
            )
            .otherwise(
                F.element_at(
                    F.array(F.lit("a"), F.lit("a"), F.lit("a"), F.lit("a"),
                            F.lit("a"), F.lit("a"), F.lit("a"), F.lit("b"),
                            F.lit("b"), F.lit("c")),
                    (F.col("id") % 10 + 1).cast("int"),
                ),
            )
            .alias("cat"),
        )

    stable = psi_categories(
        synth(False), F.col("cat"), F.col("ts")
    ).toPandas()
    drifted = psi_categories(
        synth(True), F.col("cat"), F.col("ts")
    ).toPandas()
    assert stable["psi_term"].sum() < 0.01
    assert drifted["psi_term"].sum() > 0.25


def test_null_category_is_one_more_key(spark):
    """A null category is counted like any other: its rows keep their
    counts and it is one of the k spine keys, so the smoothed
    fractions of each half still sum to 1 and chi2's dof counts it."""
    from pymfe_spark.operators.drift import chi2_homogeneity, psi_categories

    df = spark.range(100).select(
        (
            F.to_timestamp(F.lit("2025-01-01 00:00:00"))
            + F.make_interval(secs=F.col("id"))
        ).alias("ts"),
        F.when(F.col("id") % 5 != 0, F.concat(F.lit("c"), F.col("id") % 3))
        .alias("cat"),
    )
    psi = psi_categories(df, F.col("cat"), F.col("ts")).toPandas()
    null = psi[psi["cat"].isna()].iloc[0]
    assert (null["n_ref"], null["n_cur"]) == (10, 10)
    assert abs(psi["ref_frac"].sum() - 1.0) < 1e-5
    assert abs(psi["cur_frac"].sum() - 1.0) < 1e-5
    chi2 = chi2_homogeneity(df, F.col("cat"), F.col("ts")).toPandas()
    assert (chi2["k"].iloc[0], chi2["dof"].iloc[0]) == (4, 3)


def test_null_value_is_dropped_after_the_split(spark):
    """A null numeric value is neither a bin nor a point of the CDF,
    while its timestamp still places the midpoint: of 100 rows with 20
    null values (10 a half), the bin counts sum to the 40 non-null rows
    of each half, in batch and in the streaming window counts, and KS
    counts 80 rows."""
    from pymfe_spark.operators.drift import ks_statistic
    from pymfe_spark.streaming.drift import _window_bin_counts

    df = spark.range(100).select(
        (
            F.to_timestamp(F.lit("2025-01-01 00:00:00"))
            + F.make_interval(secs=F.col("id"))
        ).alias("ts"),
        F.when(F.col("id") % 5 != 0, F.col("id") % 37).alias("v"),
    )
    psi = psi_bins(df, F.col("v"), F.col("ts")).toPandas()
    assert (psi["n_ref"].sum(), psi["n_cur"].sum()) == (40, 40)
    ks = ks_statistic(df, F.col("v"), F.col("ts")).toPandas()
    assert ks["n_ref"].iloc[0] + ks["n_cur"].iloc[0] == 80
    profile = {"l_min": 0, "l_max": 36, "n_bins": 10}
    counts = _window_bin_counts(df, profile, "1 hour").toPandas()
    assert counts["n_cur"].sum() == 80


def test_psi_terms_are_nonnegative(spark):
    """Each PSI term (p_cur - p_ref)·ln(p_cur/p_ref) is nonnegative by
    construction (the factors share sign) — a planted invariant that
    catches smoothing or pivot mistakes in either engine."""
    from pymfe_spark.operators.drift import role_drift_psi

    num = feature_drift_psi(spark, SF_SMOKE).toPandas()
    cat = role_drift_psi(spark, SF_SMOKE).toPandas()
    assert (num["psi_term"] >= 0).all()
    assert (cat["psi_term"] >= 0).all()


def test_ks_statistic_matches_numpy_and_detects_shift(spark):
    """KS on the synthetic halves must equal the exact numpy two-sample
    KS; a planted shift must raise it near 0.6 (60% of the range
    shifted out of overlap) and identical halves must read ~0."""
    import numpy as np

    from pymfe_spark.operators.drift import ks_statistic

    def np_ks(a, b):
        vals = np.unique(np.concatenate([a, b]))
        fa = np.searchsorted(np.sort(a), vals, side="right") / len(a)
        fb = np.searchsorted(np.sort(b), vals, side="right") / len(b)
        return np.max(np.abs(fa - fb))

    for shift in (0, 60):
        df = _synth(spark, shift).toPandas()
        # replicate the op's midpoint split
        us = df["ts"].astype("int64")
        cut = (us.min() + us.max()) // 2
        a = df.loc[us < cut, "v"].to_numpy()
        b = df.loc[us >= cut, "v"].to_numpy()
        got = ks_statistic(
            _synth(spark, shift), F.col("v"), F.col("ts")
        ).toPandas()
        want = np_ks(a, b)
        assert abs(got["ks"].iloc[0] - want) < 1e-6, (shift, got, want)
    # the planted 60%-shift leaves 40% overlap -> KS = 0.6 exactly
    assert abs(got["ks"].iloc[0] - 0.6) < 0.02


def test_chi2_matches_numpy_and_detects_shift(spark):
    """chi2 must equal the numpy contingency computation (including a
    zero cell when a category exists in only one window), read ~dof on
    identical halves, and blow up on the planted mix flip."""
    import numpy as np

    from pymfe_spark.operators.drift import chi2_homogeneity

    def synth_cat(flip: bool, with_new_cat: bool = False):
        arr = ["a"] * 7 + ["b"] * 2 + ["c"]
        flipped = ["c"] * 7 + ["b"] * 2 + ["a"]
        rows = []
        for i in range(3000):
            src = flipped if (flip and i >= 1500) else arr
            c = src[i % 10]
            if with_new_cat and i >= 1500 and i % 100 == 0:
                c = "zz"
            rows.append((i, c))
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=["id", "cat"])
        pdf["ts"] = pd.Timestamp("2025-01-01") + pd.to_timedelta(
            pdf["id"], unit="s"
        )
        return spark.createDataFrame(pdf[["cat", "ts"]])

    def np_chi2(cats_a, cats_b):
        cats = sorted(set(cats_a) | set(cats_b))
        oa = np.array([cats_a.count(c) for c in cats], dtype=float)
        ob = np.array([cats_b.count(c) for c in cats], dtype=float)
        N = oa.sum() + ob.sum()
        chi2 = 0.0
        for o_row, r in ((oa, oa.sum()), (ob, ob.sum())):
            e = r * (oa + ob) / N
            chi2 += (((o_row - e) ** 2) / e).sum()
        return chi2

    for flip, newcat in ((False, False), (True, False), (True, True)):
        df = synth_cat(flip, newcat)
        got = chi2_homogeneity(df, F.col("cat"), F.col("ts")).toPandas()
        pdf = df.toPandas()
        us = pdf["ts"].astype("int64")
        cut = (us.min() + us.max()) // 2
        a = pdf.loc[us < cut, "cat"].tolist()
        b = pdf.loc[us >= cut, "cat"].tolist()
        want = np_chi2(a, b)
        assert abs(got["chi2"].iloc[0] - want) < 1e-4, (flip, newcat)
        if not flip:
            assert got["chi2"].iloc[0] < 12  # ~dof under homogeneity
        else:
            assert got["chi2"].iloc[0] > 1000  # mix flip alarms


def test_degenerate_window_raises_not_nan(spark, monkeypatch):
    """ADVICE r2: when every row shares one timestamp the midpoint
    split leaves the reference half empty — the operators and the
    streaming reference profile must FAIL loudly (assert_true), never
    emit NULL/NaN (or None edges) a monitor would read as 'no drift'."""
    import pytest

    from pymfe_spark.operators.drift import (
        chi2_homogeneity,
        ks_statistic,
        psi_categories,
    )
    from pymfe_spark.streaming import drift as streaming_drift

    same_ts = spark.range(100).select(
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("ts"),
        (F.col("id") % 7).alias("v"),
        F.concat(F.lit("c"), (F.col("id") % 3)).alias("cat"),
    )
    for op, col in [
        (psi_bins, "v"),
        (ks_statistic, "v"),
        (psi_categories, "cat"),
        (chi2_homogeneity, "cat"),
    ]:
        with pytest.raises(Exception, match="degenerate drift window"):
            op(same_ts, F.col(col), F.col("ts")).collect()
    monkeypatch.setattr(
        streaming_drift,
        "turns",
        lambda spark, sf_dir: same_ts.withColumnRenamed("v", "text_len"),
    )
    with pytest.raises(Exception, match="degenerate drift window"):
        streaming_drift.reference_bin_profile(spark, SF_SMOKE)


def test_streaming_profile_matches_batch_psi(spark):
    """The streaming reference profile and feature_drift_psi are the
    same pipeline: the profile's fractions are the batch ref_frac per
    bin (before rounding), and its edges are the range of text_len over
    the reference half of the time range."""
    from pymfe_spark.operators.base import turns
    from pymfe_spark.streaming.drift import reference_bin_profile

    profile = reference_bin_profile(spark, SF_SMOKE)
    psi = feature_drift_psi(spark, SF_SMOKE).toPandas().sort_values("bin")
    assert list(psi["bin"]) == list(range(10))
    assert [round(f, 6) for f in profile["ref_fracs"]] == list(psi["ref_frac"])

    t = turns(spark, SF_SMOKE).select("text_len", "ts").toPandas()
    us = t["ts"].astype("datetime64[us]").astype("int64")
    ref = t.loc[us < (us.min() + us.max()) // 2, "text_len"]
    assert (profile["l_min"], profile["l_max"]) == (ref.min(), ref.max())
    assert profile["l_min"] < profile["l_max"]
