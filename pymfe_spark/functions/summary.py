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


# Row-wise forms: on a C-contiguous (m, L) stack each equals the 1-D
# summary of every row bit for bit (numpy reduces the last axis of each
# row with the 1-D summation order), so one call summarizes m outputs.
_ROWWISE: dict[str, Callable[[np.ndarray], np.ndarray]] = {
    "mean": lambda X: X.mean(axis=1),
    "sd": lambda X: X.std(axis=1, ddof=1) if X.shape[1] > 1 else np.full(len(X), np.nan),
    "var": lambda X: X.var(axis=1, ddof=1) if X.shape[1] > 1 else np.full(len(X), np.nan),
    "count": lambda X: np.full(len(X), float(X.shape[1])),
    "max": lambda X: X.max(axis=1),
    "min": lambda X: X.min(axis=1),
    "sum": lambda X: X.sum(axis=1),
    "range": lambda X: X.max(axis=1) - X.min(axis=1),
}


def summary_plan(
    summaries: tuple[str, ...] = DEFAULT_SUMMARIES,
    summary_kwargs: "dict[str, dict] | None" = None,
) -> tuple:
    """Resolve the summaries once per configuration: (name, function,
    kwargs, row-wise form or None) each. A nan-variant inherits its
    base summary's kwargs; a summary given kwargs, or a nan-variant,
    runs once per output."""
    skw = summary_kwargs or {}
    plan = []
    for s in summaries:
        kw = skw.get(s, skw.get(s.removeprefix("nan"), {}))
        plan.append((s, SUMMARY_REGISTRY[s], kw, None if kw else _ROWWISE.get(s)))
    return tuple(plan)


def summarize_rows(X: np.ndarray, plan: tuple) -> list[tuple[str, np.ndarray, "np.ndarray | None"]]:
    """Every summary of every row of the (m, L) stack ``X`` of m
    equal-size measure outputs: (suffix, (m,) values, rows that have
    this suffix or None for all). A multi-valued summary gives the
    suffixes ``s.i``."""
    X = np.ascontiguousarray(X, dtype=float)
    m = len(X)
    out = []
    for s, fn, kw, rowwise in plan:
        if rowwise is not None and X.shape[1]:
            out.append((s, rowwise(X), None))
            continue
        cols: dict[str, np.ndarray] = {}
        has: dict[str, np.ndarray] = {}
        for r in range(m):
            res = fn(X[r], **kw)
            if np.ndim(res) == 0:
                keys, vals = [s], [float(res)]
            else:
                vals = np.asarray(res, dtype=float)
                keys = [f"{s}.{i}" for i in range(len(vals))]
            for k, v in zip(keys, vals):
                cols.setdefault(k, np.full(m, np.nan))[r] = v
                has.setdefault(k, np.zeros(m, dtype=bool))[r] = True
        out.extend((k, v, None if has[k].all() else has[k]) for k, v in cols.items())
    return out


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
    rows = summarize_rows(arr.ravel()[None], summary_plan(summaries, summary_kwargs))
    return {f"{name}.{k}": float(v[0]) for k, v, _ in rows}
