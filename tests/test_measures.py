"""Unit tests for the Arrow-tier measure kernels and summary registry:
hand-computed goldens on tiny batches + invariant checks (the engine
analogue of the reference's golden-value tests,
/root/reference/tests/test_statistical.py style)."""

from __future__ import annotations

import numpy as np
import pytest

from pymfe_spark.functions.summary import SUMMARY_REGISTRY, summarize
from pymfe_spark.plans.measures import MEASURES, ConvBatch, _can_cors

RNG = np.random.RandomState(42)


def tiny_batch() -> ConvBatch:
    # 4 turns, 1 numeric pattern, 2 classes
    N = np.array([[1.0, 0.0], [2.0, 1.0], [3.0, 1.0], [4.0, 2.0]])
    C = np.array([["a", "x"], ["a", "y"], ["b", "x"], ["b", "y"]], dtype=object)
    y = np.array(["a", "a", "b", "b"], dtype=object)
    return ConvBatch(N=N, C=C, y=y)


def rand_batch(n=60, d=3, k=3) -> ConvBatch:
    N = RNG.normal(size=(n, d))
    y = np.array([f"c{i % k}" for i in range(n)], dtype=object)
    C = np.column_stack(
        [y, np.array([f"t{i % 4}" for i in range(n)], dtype=object)]
    )
    return ConvBatch(N=N, C=C, y=y)


# --- general ---------------------------------------------------------


def test_general_goldens():
    b = tiny_batch()
    assert MEASURES["nr_inst"].fn(b) == 4.0
    assert MEASURES["nr_attr"].fn(b) == 4.0
    assert MEASURES["nr_class"].fn(b) == 2.0
    assert np.allclose(MEASURES["freq_class"].fn(b), [0.5, 0.5])
    assert MEASURES["attr_to_inst"].fn(b) == 1.0
    # C col 'a/b' has 2 values, 'x/y' has 2, N col2 has 3 distinct,
    # N col1 has 4 -> nr_bin counts 2-distinct cols across both views
    assert MEASURES["nr_bin"].fn(b) == 2.0


# --- statistical -----------------------------------------------------


def test_statistical_moments_match_numpy():
    b = rand_batch()
    assert np.allclose(MEASURES["mean"].fn(b), b.N.mean(axis=0))
    assert np.allclose(MEASURES["sd"].fn(b), b.N.std(axis=0, ddof=1))
    assert np.allclose(
        MEASURES["iq_range"].fn(b),
        np.quantile(b.N, 0.75, axis=0) - np.quantile(b.N, 0.25, axis=0),
    )


def test_skew_kurt_e1071_method3():
    """Golden for x = [1,2,3,4,10] from the published e1071 type-3
    definitions (b1 = g1*((n-1)/n)^1.5, b2 = (g2+3)(1-1/n)^2 - 3):
    skewness = 0.8145870, kurtosis = -1.2156800."""
    x = np.array([1.0, 2.0, 3.0, 4.0, 10.0])
    n = x.size
    m = x.mean()
    m2 = ((x - m) ** 2).mean()
    m3 = ((x - m) ** 3).mean()
    m4 = ((x - m) ** 4).mean()
    g1 = m3 / m2**1.5
    exp_skew = g1 * ((n - 1) / n) ** 1.5
    exp_kurt = (m4 / m2**2) * (1 - 1 / n) ** 2 - 3
    b = ConvBatch(N=x.reshape(-1, 1), C=np.array([["a"]] * 5, dtype=object),
                  y=np.array(["a"] * 5, dtype=object))
    assert np.allclose(MEASURES["skewness"].fn(b), [exp_skew])
    assert np.allclose(MEASURES["kurtosis"].fn(b), [exp_kurt])
    # sanity against the hand-derived values
    assert abs(exp_skew - 0.8145870) < 1e-6
    assert abs(exp_kurt - (-1.2156800)) < 1e-6


def test_gravity_1d():
    b = tiny_batch()
    # centroids: a=(1.5, .5), b=(3.5, 1.5) -> dist = sqrt(4+1)
    assert np.isclose(MEASURES["gravity"].fn(b), np.sqrt(5.0))


def test_can_cor_perfect_separation():
    """1-D feature perfectly separating 2 classes -> canonical corr
    close to the point-biserial correlation."""
    N = np.array([[0.0], [0.1], [0.2], [10.0], [10.1], [10.2]])
    y = np.array(["a"] * 3 + ["b"] * 3, dtype=object)
    rho = _can_cors(N, y)
    assert rho.size >= 1
    expected = abs(np.corrcoef(N[:, 0], (y == "b").astype(float))[0, 1])
    assert abs(rho[0] - expected) < 1e-6


def test_eigenvalues_sum_equals_total_variance():
    b = rand_batch()
    ev = MEASURES["eigenvalues"].fn(b)
    assert np.isclose(ev.sum(), np.trace(b.cov_mat()))


def test_nr_norm_detects_normal_vs_uniform():
    normal = RNG.normal(size=(500, 1))
    uniform = RNG.uniform(size=(500, 1)) * 4 - 2
    bn = ConvBatch(N=normal, C=np.array([["a"]] * 500, dtype=object),
                   y=np.array(["a"] * 500, dtype=object))
    bu = ConvBatch(N=uniform, C=np.array([["a"]] * 500, dtype=object),
                   y=np.array(["a"] * 500, dtype=object))
    assert MEASURES["nr_norm"].fn(bn) == 1.0
    assert MEASURES["nr_norm"].fn(bu) == 0.0


# --- info-theory ------------------------------------------------------


def test_entropy_goldens():
    b = tiny_batch()
    assert np.isclose(MEASURES["class_ent"].fn(b), 1.0)  # 2 equal classes
    ae = MEASURES["attr_ent"].fn(b)
    assert np.allclose(ae[:2], [1.0, 1.0])
    # joint of independent uniform 2x2 -> 2 bits (eps-smoothing ~1e-8 off)
    je = MEASURES["joint_ent"].fn(b)
    assert abs(je[1] - 2.0) < 1e-4
    mi = MEASURES["mut_inf"].fn(b)
    assert abs(mi[0] - 1.0) < 1e-4  # col0 == y -> MI = H(y) = 1 bit
    assert abs(mi[1]) < 1e-4  # independent -> 0


def test_conc_perfect_association():
    b = tiny_batch()
    cc = MEASURES["class_conc"].fn(b)
    assert np.isclose(cc[0], 1.0)  # col0 == y
    # independent: ~0 up to the reference's eps=1e-8 crosstab smoothing
    # (info_theory.py:198-213)
    assert abs(cc[1]) < 1e-6


# --- clustering -------------------------------------------------------


def test_clustering_indexes_well_separated():
    """Two tight, far-apart clusters: sil ~ 1, vdb ~ 0, ch huge,
    pb strongly negative (same class => small distance)."""
    a = RNG.normal(0, 0.01, size=(20, 2))
    c = RNG.normal(10, 0.01, size=(20, 2)) + np.array([10.0, 0.0])
    N = np.vstack([a, c])
    y = np.array(["a"] * 20 + ["b"] * 20, dtype=object)
    b = ConvBatch(N=N, C=np.column_stack([y]), y=y)
    assert MEASURES["sil"].fn(b) > 0.99
    assert MEASURES["vdb"].fn(b) < 0.01
    assert MEASURES["ch"].fn(b) > 1e5
    assert MEASURES["pb"].fn(b) < -0.9
    assert MEASURES["vdu"].fn(b) > 0
    assert MEASURES["nre"].fn(b) == pytest.approx(np.log(2))
    assert MEASURES["sc"].fn(b) == 0.0  # both classes have 20 >= 15


# --- concept ----------------------------------------------------------


def test_concept_measures_shapes_and_ranges():
    b = rand_batch()
    cv = MEASURES["conceptvar"].fn(b)
    assert cv.shape == (60,)
    assert np.all((cv >= 0) & (cv <= 1))
    coh = MEASURES["cohesiveness"].fn(b)
    assert np.all(coh > 0)
    wd = MEASURES["wg_dist"].fn(b)
    assert np.all(wd >= 0)


# --- itemset ----------------------------------------------------------


def test_itemset_goldens():
    b = tiny_batch()
    one = MEASURES["one_itemset"].fn(b)
    assert np.allclose(sorted(one), [0.5] * 4)  # 2 cols x 2 values, all 0.5
    two = MEASURES["two_itemset"].fn(b)
    # pairs (a,x): a=[1,1,0,0] x=[1,0,1,0] xor=[0,1,1,0] -> 0.5 etc.
    assert np.allclose(two, [0.5, 0.5, 0.5, 0.5])


# --- summary layer ----------------------------------------------------


def test_summary_registry_matches_numpy():
    v = RNG.normal(size=100)
    assert SUMMARY_REGISTRY["mean"](v) == pytest.approx(v.mean())
    assert SUMMARY_REGISTRY["sd"](v) == pytest.approx(v.std(ddof=1))
    assert np.allclose(
        SUMMARY_REGISTRY["quantiles"](v),
        np.quantile(v, (0, 0.25, 0.5, 0.75, 1)),
    )
    h = SUMMARY_REGISTRY["histogram"](v)
    assert h.shape == (10,)
    assert h.sum() == pytest.approx(1.0)
    assert SUMMARY_REGISTRY["pnorm"](v) == pytest.approx(np.sqrt((v**2).sum()))


def test_summary_nan_variants_and_containment():
    v = np.array([1.0, np.nan, 3.0])
    assert np.isnan(SUMMARY_REGISTRY["mean"](v))
    assert SUMMARY_REGISTRY["nanmean"](v) == pytest.approx(2.0)
    assert SUMMARY_REGISTRY["nancount"](v) == 2.0
    # sd of singleton -> nan (ddof rule _summary.py:273-286)
    assert np.isnan(SUMMARY_REGISTRY["sd"](np.array([5.0])))


def test_summarize_naming_scheme():
    out = summarize("freq_class", np.array([0.25, 0.75]), ("mean", "quantiles"))
    assert "freq_class.mean" in out
    assert "freq_class.quantiles.0" in out and "freq_class.quantiles.4" in out
    # scalar passes through unsummarized (mfe.py:571-594)
    assert summarize("nr_inst", 42.0) == {"nr_inst": 42.0}


def test_normality_tests_affine_invariant():
    """Shapiro W, D'Agostino K² and Anderson A² are location-scale
    invariant: y = a*x + b (a > 0) must give the same statistic and
    p-value to float precision."""
    from pymfe_spark.plans.normality import (
        anderson_darling_norm,
        dagostino_pearson,
        shapiro_wilk,
    )

    x = RNG.normal(size=200) + 0.3 * RNG.uniform(size=200)
    y = 7.25 * x - 113.0
    for fn in (shapiro_wilk, dagostino_pearson, anderson_darling_norm):
        sx, px = fn(x)
        sy, py = fn(y)
        assert np.isclose(sx, sy, rtol=1e-9) and np.isclose(px, py, rtol=1e-6)
        assert 0.0 <= min(px, py) and (fn is anderson_darling_norm or px <= 1.0)


def test_normality_edge_cases_raise():
    """Mirrors scipy's failure modes (which the kernel's exception
    containment converts to NaN): tiny n and constant samples raise."""
    from pymfe_spark.plans.normality import (
        anderson_darling_norm,
        dagostino_pearson,
        shapiro_wilk,
    )

    import pytest as _pt

    with _pt.raises(ValueError):
        shapiro_wilk(np.array([1.0, 2.0]))
    with _pt.raises(ValueError):
        shapiro_wilk(np.full(50, 3.0))
    with _pt.raises(ValueError):
        dagostino_pearson(np.arange(5.0))
    with _pt.raises(ValueError):
        anderson_darling_norm(np.full(50, 3.0))


def test_shapiro_weights_cached_equal_fresh_and_read_only():
    """The per-n Shapiro-Wilk weights come from a cache: every cached
    array equals a fresh computation and cannot be mutated by a
    caller (one shared array serves every conversation of that n)."""
    from pymfe_spark.plans.normality import _sw_weights

    for n in range(3, 301):
        cached = _sw_weights(n)
        assert _sw_weights(n) is cached
        assert np.array_equal(cached, _sw_weights.__wrapped__(n)), n
        assert cached.shape == (n // 2,)
        with pytest.raises(ValueError):
            cached[0] = 0.0


def test_shapiro_small_n_branches():
    """n=3 (exact asin p) and 4<=n<=11 (gamma transform) branches."""
    from pymfe_spark.plans.normality import shapiro_wilk

    w3, p3 = shapiro_wilk(np.array([1.0, 2.0, 4.0]))
    assert 0.0 < w3 <= 1.0 and 0.0 <= p3 <= 1.0
    w8, p8 = shapiro_wilk(np.array([1.0, 2.0, 2.5, 3.0, 3.5, 4.0, 5.0, 9.0]))
    assert 0.0 < w8 <= 1.0 and 0.0 <= p8 <= 1.0
