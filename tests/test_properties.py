"""Property-based tests (hypothesis) for the pure-numpy layers.

The reference suite has no property tests (SURVEY.md §5); these pin
the algebraic invariants the distributed engine depends on — summary
sigma semantics, the power-sum state merge used by both streaming
state and skew partial aggregation, discretization and concentration
invariants — on adversarial inputs, not just goldens.
"""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from pymfe_spark.functions.moments import (
    PY,
    central_moments,
    kurtosis,
    power_sum_state,
    power_sum_stats,
    skewness,
)
from pymfe_spark.functions.summary import SUMMARY_REGISTRY, summarize
from pymfe_spark.plans.extractor import _equal_freq_bins, rescale_numeric
from pymfe_spark.plans.measures import _conc

# allow_subnormal=False: at denormal densities (~5e-324) quantile
# midpoints round onto the subnormal grid and scale denominators
# degenerate — sklearn's scalers break identically there; the
# properties under test are about normal-range data
finite = st.floats(
    min_value=-1e6,
    max_value=1e6,
    allow_nan=False,
    allow_infinity=False,
    allow_subnormal=False,
)
vec = arrays(np.float64, st.integers(2, 60), elements=finite)


@given(vec)
@settings(max_examples=80, deadline=None)
def test_summary_moments_match_numpy(v):
    """mean/sd/var/median/min/max/range/sum/count == the numpy
    definitions the reference binds (_summary.py:447-482)."""
    assert SUMMARY_REGISTRY["mean"](v) == pytest_approx(np.mean(v))
    assert SUMMARY_REGISTRY["sd"](v) == pytest_approx(np.std(v, ddof=1))
    assert SUMMARY_REGISTRY["var"](v) == pytest_approx(np.var(v, ddof=1))
    assert SUMMARY_REGISTRY["median"](v) == pytest_approx(np.median(v))
    assert SUMMARY_REGISTRY["min"](v) == np.min(v)
    assert SUMMARY_REGISTRY["max"](v) == np.max(v)
    assert SUMMARY_REGISTRY["range"](v) == pytest_approx(np.ptp(v))
    assert SUMMARY_REGISTRY["sum"](v) == pytest_approx(np.sum(v), rel=1e-9)
    assert SUMMARY_REGISTRY["count"](v) == v.size


def pytest_approx(x, rel=1e-9):
    import pytest

    return pytest.approx(x, rel=rel, abs=1e-9)


@given(vec)
@settings(max_examples=50, deadline=None)
def test_summary_histogram_and_quantiles(v):
    """histogram: 10 normalized equal-width bins (_summary.py:26-59);
    quantiles: linear interpolation at (0,.25,.5,.75,1)
    (_summary.py:62-143); pnorm^2 == powersum (p=2)."""
    h = SUMMARY_REGISTRY["histogram"](v)
    assert h.shape == (10,)
    assert math.isclose(h.sum(), 1.0, rel_tol=1e-9)
    q = SUMMARY_REGISTRY["quantiles"](v)
    np.testing.assert_allclose(
        q, np.quantile(v, (0, 0.25, 0.5, 0.75, 1.0)), rtol=1e-12, atol=1e-9
    )
    ps = SUMMARY_REGISTRY["powersum"](v)
    pn = SUMMARY_REGISTRY["pnorm"](v)
    assert math.isclose(pn * pn, ps, rel_tol=1e-9, abs_tol=1e-9)


@given(vec, st.floats(min_value=0.05, max_value=0.95))
@settings(max_examples=50, deadline=None)
def test_nan_variants_ignore_nans(v, frac):
    """nan* == plain sigma over the nan-stripped vector
    (_summary.py:20-23,128-143)."""
    w = v.copy()
    k = max(1, int(frac * v.size))
    if v.size - k < 2:
        k = v.size - 2
    if k < 1:
        return
    w[:k] = np.nan
    clean = w[~np.isnan(w)]
    for name in ("mean", "sd", "median", "sum", "iq_range"):
        got = SUMMARY_REGISTRY[f"nan{name}"](w)
        exp = SUMMARY_REGISTRY[name](clean)
        if math.isnan(exp):
            assert math.isnan(got)
        else:
            assert math.isclose(got, exp, rel_tol=1e-9, abs_tol=1e-9)


@given(
    arrays(
        np.float64,
        st.integers(1, 200),
        elements=st.integers(-1000, 1000).map(float),
    ),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_power_sum_state_merges_exactly_any_split(v, data):
    """Summing the power-sum state (n, S1..S4) of the pieces of any
    split of integer-valued data — reordered, with empty pieces — gives
    exactly the one-shot state, so the Python finisher gives exactly the
    one-shot outputs: the invariant that makes streaming state == batch
    partial aggregation (streaming/stateful.py, operators/skew.py).
    The finisher also agrees with the kernel's central-moment path."""
    order = data.draw(st.permutations(range(v.size)))
    cuts = sorted(data.draw(st.lists(st.integers(0, v.size), max_size=6)))
    merged = (0, 0.0, 0.0, 0.0, 0.0)
    for piece in np.split(v[order], cuts):
        merged = tuple(a + b for a, b in zip(merged, power_sum_state(piece)))
    whole = power_sum_state(v)
    assert merged == whole
    got = power_sum_stats(*merged, PY)
    assert np.array_equal(got, power_sum_stats(*whole, PY), equal_nan=True)

    mean, sd, skew, kurt = got
    assert math.isclose(mean, float(v.mean()), rel_tol=1e-12, abs_tol=1e-12)
    m2, m3, m4 = central_moments(v[None])
    n = v.size
    if n < 2:
        assert math.isnan(sd)
    else:
        # S2 - S1*S1/n cancels on near-constant data (~1e-8 relative)
        assert math.isclose(sd, float(v.std(ddof=1)), rel_tol=1e-6, abs_tol=1e-9)
    assert math.isnan(skew) == math.isnan(skewness(n, m2, m3)[0])
    assert math.isnan(kurt) == math.isnan(kurtosis(n, m2, m4)[0])


@given(arrays(np.float64, st.integers(2, 300), elements=finite))
@settings(max_examples=60, deadline=None)
def test_equal_freq_bins_invariants(v):
    """Bin ids are monotone in the value, bounded by floor(n^(1/3)),
    and identical values share a bin (_internal.py:1550-1624)."""
    bins = _equal_freq_bins(v)
    k = max(int(np.floor(v.size ** (1.0 / 3.0) + 1e-9)), 1)
    assert bins.min() >= 0 and bins.max() <= k
    order = np.argsort(v, kind="stable")
    assert (np.diff(bins[order]) >= 0).all()
    for val in np.unique(v)[:5]:
        assert np.unique(bins[v == val]).size == 1


@given(arrays(np.float64, st.integers(2, 100), elements=finite))
@settings(max_examples=40, deadline=None)
def test_rescale_properties(v):
    """min-max is idempotent; standard recenters; robust is
    median-centered (sklearn scaler semantics)."""
    N = np.column_stack([v, v * 2 + 1])
    M = rescale_numeric(N, "min-max")
    np.testing.assert_allclose(rescale_numeric(M, "min-max"), M, atol=1e-9)
    S = rescale_numeric(N, "standard")
    # atol reflects float64 cancellation at the 1e6 input magnitudes
    np.testing.assert_allclose(S.mean(axis=0), 0.0, atol=1e-5)
    R = rescale_numeric(N, "robust")
    np.testing.assert_allclose(np.median(R, axis=0), 0.0, atol=1e-9)


@given(
    arrays(np.int64, st.integers(4, 80), elements=st.integers(0, 4)),
    arrays(np.int64, st.integers(4, 80), elements=st.integers(0, 3)),
)
@settings(max_examples=60, deadline=None)
def test_concentration_bounds_and_identity(a, b):
    """tau(a -> b) in [~0-eps, 1]; tau(x -> x) == 1 when x varies
    (info_theory.py:198-213)."""
    m = min(a.size, b.size)
    a, b = a[:m].astype(object), b[:m].astype(object)
    if np.unique(b).size < 2:
        return
    c = _conc(a, b)
    assert -1e-4 <= c <= 1.0 + 1e-9
    if np.unique(a).size >= 2:
        # the reference's eps-smoothing (1e-8 on every crosstab cell,
        # info_theory.py:198-213) keeps the self-concentration slightly
        # below 1: the deficit scales with cells/eps and the marginal
        # skew (~1e-6 at n~50 with a 50:1 split), so the identity is
        # approximate by design
        assert abs(_conc(a, a) - 1.0) < 5e-5


# ---------------------------------------------------------------------
# vendored PNG codec (operators/png_codec.py): fuzz the whole byte
# surface. The decode contract is "ValueError (or NotImplementedError
# for unsupported-but-valid features) on ANY malformed stream, never a
# struct/zlib/Index error from deep inside" — the round-4 ADVICE fix.
# ---------------------------------------------------------------------

from pymfe_spark.operators.png_codec import (  # noqa: E402
    decode_png,
    encode_png,
    resize_nearest,
)


@given(
    st.integers(1, 9),
    st.integers(1, 9),
    st.sampled_from([1, 2, 3, 4]),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_arbitrary_rasters(w, h, ch, data):
    """encode -> decode is the identity for every 8-bit raster shape."""
    raster = data.draw(
        st.binary(min_size=w * h * ch, max_size=w * h * ch)
    )
    assert decode_png(encode_png(raster, w, h, ch)) == (w, h, ch, raster)


def _fixed_png() -> bytes:
    raster = bytes((i * 37 + 11) % 256 for i in range(6 * 5 * 3))
    return encode_png(raster, 6, 5, 3)


@given(st.integers(0, 10_000), st.integers(0, 255))
@settings(max_examples=200, deadline=None)
def test_png_single_byte_corruption_never_escapes(pos, b):
    """Flipping any one byte either leaves the stream valid (no-op
    mutation) or raises the documented error types — nothing else."""
    payload = bytearray(_fixed_png())
    pos %= len(payload)
    payload[pos] = b
    try:
        got = decode_png(bytes(payload))
    except (ValueError, NotImplementedError):
        return
    assert got == decode_png(_fixed_png())


@given(st.integers(0, 10_000))
@settings(max_examples=120, deadline=None)
def test_png_truncation_never_escapes(k):
    """Every prefix either decodes to the true image (cut after the
    last IDAT) or raises the documented error types."""
    payload = _fixed_png()
    k %= len(payload)
    try:
        got = decode_png(payload[:k])
    except (ValueError, NotImplementedError):
        return
    assert got == decode_png(payload)


@given(
    st.integers(1, 8),
    st.integers(1, 8),
    st.sampled_from([1, 3]),
    st.integers(1, 12),
    st.integers(1, 12),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_resize_nearest_pixel_membership(w, h, ch, ow, oh, data):
    """Nearest-neighbor output contains only pixels present in the
    input (no interpolation), at the exact output size."""
    raster = data.draw(st.binary(min_size=w * h * ch, max_size=w * h * ch))
    out = resize_nearest(raster, w, h, ch, ow, oh)
    assert len(out) == ow * oh * ch
    in_px = {
        raster[(y * w + x) * ch : (y * w + x + 1) * ch]
        for y in range(h)
        for x in range(w)
    }
    for y in range(oh):
        for x in range(ow):
            assert out[(y * ow + x) * ch : (y * ow + x + 1) * ch] in in_px
