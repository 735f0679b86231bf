"""Arbitrary-table meta-feature extraction: numpy ground truth for the
reference semantics (e1071 method-3 moments, ddof=1, abs-tril cov/cor,
mean+sd attribute summary). Oracle parity is covered by
test_oracle_parity; this pins the VALUES against an independent
implementation."""

from __future__ import annotations

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from pymfe_spark.operators.tabular import NUM_COLS, mfe_tabular, mfe_tabular_lineitem
from tests.conftest import SF_SMOKE


def _truth(X: np.ndarray) -> dict[str, float]:
    n, k = X.shape
    mu = X.mean(axis=0)
    d = X - mu
    m2 = (d**2).mean(axis=0)
    m3 = (d**3).mean(axis=0)
    m4 = (d**4).mean(axis=0)
    sd = np.sqrt(m2 * n / (n - 1))
    skew = m3 / m2**1.5 * ((n - 1) / n) ** 1.5
    kurt = (m4 / m2**2) * (1 - 1 / n) ** 2 - 3
    # columns as rows: rowvar=False would read a 1-row X as one variable
    C = np.cov(X.T, ddof=1)
    R = np.corrcoef(X.T)
    tril = np.tril_indices(k, k=-1)
    covs = np.abs(C[tril])
    cors = np.abs(R[tril])
    out = {}
    for name, vals in (
        ("mean", mu),
        ("sd", sd),
        ("skewness", skew),
        ("kurtosis", kurt),
        ("cov", covs),
        ("cor", cors),
    ):
        out[f"{name}.mean"] = float(np.mean(vals))
        out[f"{name}.sd"] = float(np.std(vals, ddof=1))
    out["nr_inst"] = float(n)
    out["nr_attr"] = float(k)
    out["attr_to_inst"] = k / n
    out["inst_to_attr"] = n / k
    return out


def _assert_matches_truth(got: dict, X: np.ndarray) -> set[str]:
    """Every value of ``got`` matches ``_truth(X)``; the names that are
    undefined there (NaN) must be null here. Returns those names."""
    with np.errstate(all="ignore"), warnings.catch_warnings():
        warnings.simplefilter("ignore")
        want = _truth(X)
    assert set(got) == set(want)
    undefined = {name for name, w in want.items() if np.isnan(w)}
    for name, w in want.items():
        if name in undefined:
            assert np.isnan(got[name]), (name, got[name])
        else:
            # engine rounds at 4; allow the rounding plus float slack
            assert abs(got[name] - w) < 1.5e-4, (name, got[name], w)
    return undefined


def _lineitem(spark, *cols):
    return spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(*cols)


def _values(df) -> dict[str, float]:
    return df.toPandas().set_index("mtf_name")["mtf_val"].to_dict()


def test_any_column_count(spark):
    cols = NUM_COLS[:3]
    li = _lineitem(spark, *cols)
    X = li.toPandas().to_numpy(dtype=float)
    assert not _assert_matches_truth(_values(mfe_tabular(li, cols)), X)
    with pytest.raises(ValueError, match="at least 2 columns"):
        mfe_tabular(li, cols[:1])


def test_constant_column_gives_null_shape_and_cor(spark):
    li = _lineitem(spark, *NUM_COLS).withColumn("l_tax", F.lit(5.0))
    X = li.toPandas().to_numpy(dtype=float)
    undefined = _assert_matches_truth(_values(mfe_tabular(li)), X)
    assert undefined == {
        f"{m}.{s}" for m in ("skewness", "kurtosis", "cor") for s in ("mean", "sd")
    }


def test_single_row_group_gives_null_undefined_rows(spark):
    li = _lineitem(spark, "l_returnflag", *NUM_COLS)
    li = li.unionByName(spark.createDataFrame([("Z", 1.0, 2.0, 0.05, 0.01)], li.schema))
    got = mfe_tabular(li, by="l_returnflag").toPandas()
    rows = li.toPandas()
    for flag, g in got.groupby("l_returnflag"):
        X = rows.loc[rows["l_returnflag"] == flag, list(NUM_COLS)]
        undefined = _assert_matches_truth(
            g.set_index("mtf_name")["mtf_val"].to_dict(), X.to_numpy(dtype=float)
        )
        if flag == "Z":
            assert undefined == {
                f"{m}.{s}"
                for m in ("sd", "skewness", "kurtosis", "cov", "cor")
                for s in ("mean", "sd")
            }
        else:
            assert not undefined


def test_tabular_mfe_matches_numpy_truth(spark):
    got = (
        mfe_tabular_lineitem(spark, SF_SMOKE)
        .toPandas()
        .set_index("mtf_name")["mtf_val"]
        .to_dict()
    )
    import pandas as pd

    X = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")[
        list(NUM_COLS)
    ].to_numpy(dtype=float)
    want = _truth(X)
    assert set(got) == set(want)
    for name, w in want.items():
        # engine rounds at 4; allow the rounding plus float slack
        assert abs(got[name] - w) < 1.5e-4, (name, got[name], w)


def test_grouped_extraction_equals_filtered_ungrouped(spark):
    """Per-group meta-features must equal running the ungrouped
    extractor on that group's filtered rows — every group IS a
    dataset."""
    from pymfe_spark.operators.tabular import mfe_tabular

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_returnflag", *NUM_COLS
    )
    grouped = (
        mfe_tabular(li, by="l_returnflag")
        .toPandas()
        .set_index(["l_returnflag", "mtf_name"])["mtf_val"]
    )
    flags = sorted(grouped.index.get_level_values(0).unique())
    assert len(flags) >= 2
    for flag in flags:
        solo = (
            mfe_tabular(li.filter(F.col("l_returnflag") == flag).drop("l_returnflag"))
            .toPandas()
            .set_index("mtf_name")["mtf_val"]
        )
        for name, v in solo.items():
            assert abs(grouped.loc[(flag, name)] - v) < 2e-4, (flag, name)
