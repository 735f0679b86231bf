"""Summary-function registry — the sigma of f(D) = sigma(m(D)).

Re-creates the reference's summary layer
(/root/reference/pymfe/_summary.py, registry SUMMARY_METHODS at
447-482) in pure numpy for use inside Arrow kernels:

- sd/var: ddof=1, n <= ddof -> nan (_summary.py:273-302).
- histogram: 10 equal-width bins, normalized counts (_summary.py:26-59).
- quantiles: (0, .25, .5, .75, 1), linear interpolation
  (_summary.py:62-143).
- kurtosis/skewness: e1071 method 3 (functions/moments.py).
- powersum/pnorm: p=2 default (_summary.py:356-428).
- nan* variants ignore NaNs (_summary.py:20-23).
- any exception -> NaN, mirroring the summarize wrapper
  (/root/reference/pymfe/_internal.py:521-559).

Multi-valued summaries expand to ``name.i`` suffixes
(/root/reference/pymfe/mfe.py:460-478).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from pymfe_spark.functions.moments import central_moments, kurtosis, skewness

SummaryFn = Callable[[np.ndarray], "float | np.ndarray"]


def _clean(values: np.ndarray, drop_nan: bool) -> np.ndarray:
    v = np.asarray(values, dtype=float).ravel()
    return v[~np.isnan(v)] if drop_nan else v


def _sd(v: np.ndarray) -> float:
    # ndarray methods dispatch straight to numpy's _methods (same
    # result bit-for-bit as np.std/np.mean), skipping the fromnumeric
    # wrapper — this registry runs ~50x per conversation on tiny arrays
    return float(v.std(ddof=1)) if v.size > 1 else float("nan")


def _var(v: np.ndarray) -> float:
    return float(v.var(ddof=1)) if v.size > 1 else float("nan")


def _histogram(v: np.ndarray, bins: int = 10) -> np.ndarray:
    if v.size == 0:
        return np.full(bins, np.nan)
    counts, _ = np.histogram(v, bins=bins)
    return counts / v.size


def _quantiles(
    v: np.ndarray, q: tuple = (0.0, 0.25, 0.5, 0.75, 1.0)
) -> np.ndarray:
    if v.size == 0:
        return np.full(len(q), np.nan)
    return np.quantile(v, q)


def _shape(finish: Callable, order: int) -> SummaryFn:
    """e1071 skewness (order 3) or kurtosis (order 4) of a 1-D array."""
    return lambda v: (
        float(finish(v.size, *central_moments(v[None], (2, order)))[0])
        if v.size
        else float("nan")
    )


def _iq_range(v: np.ndarray) -> float:
    return float(np.quantile(v, 0.75) - np.quantile(v, 0.25)) if v.size else float("nan")


def _base_registry() -> dict[str, SummaryFn]:
    return {
        "mean": lambda v: float(v.mean()) if v.size else float("nan"),
        "sd": _sd,
        "var": _var,
        "count": lambda v: float(v.size),
        "histogram": _histogram,
        "iq_range": _iq_range,
        "kurtosis": _shape(kurtosis, 4),
        "max": lambda v: float(v.max()) if v.size else float("nan"),
        "median": lambda v: float(np.median(v)) if v.size else float("nan"),
        "min": lambda v: float(v.min()) if v.size else float("nan"),
        "quantiles": _quantiles,
        "range": lambda v: float(v.ptp()) if v.size else float("nan"),
        "skewness": _shape(skewness, 3),
        "sum": lambda v: float(v.sum()) if v.size else float("nan"),
        "powersum": lambda v, p=2: float(np.sum(v**p)) if v.size else float("nan"),
        "pnorm": lambda v, p=2: (
            float(np.sum(np.abs(v) ** p) ** (1.0 / p)) if v.size else float("nan")
        ),
    }


def build_summary_registry() -> dict[str, SummaryFn]:
    """All summaries + nan* variants, exception-contained."""
    reg: dict[str, SummaryFn] = {}
    for name, fn in _base_registry().items():
        reg[name] = _wrap(fn, drop_nan=False)
        reg[f"nan{name}"] = _wrap(fn, drop_nan=True)
    return reg


def _wrap(fn: SummaryFn, drop_nan: bool) -> SummaryFn:
    def wrapped(values: np.ndarray, **kw):
        try:
            return fn(_clean(values, drop_nan), **kw)
        except Exception:
            return float("nan")

    return wrapped


SUMMARY_REGISTRY = build_summary_registry()
DEFAULT_SUMMARIES = ("mean", "sd")


def summarize(
    name: str,
    values: "float | np.ndarray",
    summaries: tuple[str, ...] = DEFAULT_SUMMARIES,
    summary_kwargs: "dict[str, dict] | None" = None,
) -> dict[str, float]:
    """Apply summaries to a measure result, producing the reference's
    ``feature.summary[.i]`` naming. Scalars pass through unsummarized
    (/root/reference/pymfe/mfe.py:571-594).

    ``summary_kwargs`` routes per-summary arguments — the engine
    analogue of the reference's ``{mtd_name: {arg: val}}`` kwargs
    pass-through (mfe.py:1208-1218, build_mtd_kwargs
    _internal.py:624-708): ``p`` for powersum/pnorm
    (_summary.py:356-428), ``q`` (quantile list) for quantiles
    (numpy-interpolation semantics, _summary.py:62-143), ``bins`` for
    histogram. A nan-variant inherits its base summary's kwargs."""
    arr = np.atleast_1d(np.asarray(values, dtype=float))
    if arr.size == 1 and np.ndim(values) == 0:
        return {name: float(arr[0])}
    skw = summary_kwargs or {}
    out: dict[str, float] = {}
    for s in summaries:
        kw = skw.get(s, skw.get(s.removeprefix("nan"), {}))
        res = SUMMARY_REGISTRY[s](arr, **kw)
        if np.ndim(res) == 0:
            out[f"{name}.{s}"] = float(res)
        else:
            for i, x in enumerate(np.asarray(res, dtype=float)):
                out[f"{name}.{s}.{i}"] = float(x)
    return out
