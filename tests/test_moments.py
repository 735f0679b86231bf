"""Degenerate input through the moment finishers (functions/moments.py):
a value undefined for the data comes back null, never a Spark ANSI
DIVIDE_BY_ZERO, and every engine agrees on which values those are."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pymfe_spark.operators import conv_stats, skew, temporal

# conv "a": one turn; conv "b": 3 distinct lengths; conv "c": constant
_ROWS = [
    ("a", 0, "user", 5.0),
    ("b", 0, "user", 3.0),
    ("b", 1, "assistant", 5.0),
    ("b", 2, "user", 10.0),
    ("c", 0, "user", 4.0),
    ("c", 1, "assistant", 4.0),
]


def _small_turns(spark):
    pdf = pd.DataFrame(_ROWS, columns=["conv_id", "turn_idx", "role", "text_len"])
    pdf["tool"] = None
    pdf["ts"] = pd.Timestamp("2026-01-01")
    pdf["ts_delta_s"] = np.nan
    return spark.createDataFrame(
        pdf,
        "conv_id string, turn_idx int, role string, text_len double, "
        "tool string, ts timestamp_ntz, ts_delta_s double",
    )


def _by_conv(df) -> dict:
    return df.toPandas().set_index("conv_id").to_dict("index")


def test_one_turn_and_constant_conversations_are_null_not_errors(spark, monkeypatch):
    frame = _small_turns(spark)
    for mod in (skew, conv_stats, temporal):
        monkeypatch.setattr(mod, "turns", lambda *_: frame)
    b = np.array([3.0, 5.0, 10.0])

    salted = _by_conv(skew.salted_conv_stats(spark, "unused"))
    assert salted["a"]["n"] == 1 and salted["a"]["mean_len"] == 5.0
    assert math.isnan(salted["a"]["sd_len"])
    assert salted["b"]["sd_len"] == round(float(b.std(ddof=1)), 6)
    assert salted["c"]["sd_len"] == 0.0

    shape = _by_conv(conv_stats.mf_stat_shape(spark, "unused"))
    for conv in ("a", "c"):
        assert math.isnan(shape[conv]["skewness"]), conv
        assert math.isnan(shape[conv]["kurtosis"]), conv
    assert np.isfinite([shape["b"]["skewness"], shape["b"]["kurtosis"]]).all()

    pit = (
        temporal.expanding_mfe_sql(spark, "unused")
        .toPandas()
        .set_index(["conv_id", "turn_idx"])
    )
    first = pit.loc[("a", 0)]
    assert first["mean_len"] == 5.0
    assert np.isnan(first[["sd_len", "skewness_len", "kurtosis_len"]]).all()
    assert pit.loc[("c", 1), "sd_len"] == 0.0
    assert np.isnan(pit.loc[("c", 1), ["skewness_len", "kurtosis_len"]]).all()
    # the final prefix agrees with the one-shot salted and central forms
    assert pit.loc[("b", 2), "sd_len"] == salted["b"]["sd_len"]
    assert abs(pit.loc[("b", 2), "skewness_len"] - shape["b"]["skewness"]) < 2e-6
    assert abs(pit.loc[("b", 2), "kurtosis_len"] - shape["b"]["kurtosis"]) < 2e-6
