"""Post-processing hooks + bootstrap confidence intervals.

- :func:`add_relative_landmarking` — the reference's single postprocess
  hook (/root/reference/pymfe/relative.py:56-156): within one dataset
  (= conversation), rank the landmarking measures against each other
  per summary suffix (scipy.stats.rankdata average-ties semantics,
  relative.py:123-128), appending ``<name>.<summary>.relative``.
- :func:`bootstrap_rows` — the extract_with_confidence path
  (/root/reference/pymfe/mfe.py:1523-1679, _bootstrap.py:11-279):
  ``sample_num`` seeded bootstrap resamples of the conversation's
  turns, empirical-bootstrap quantile intervals around the full-data
  estimate (the algorithm documented at mfe.py:1533-1546:
  lo = 2e - Q_{1-a}(e_b), hi = 2e - Q_a(e_b)).

Seeding is f(global_seed, conv_id) so results are deterministic across
partitionings and retries (SURVEY.md §7 determinism requirement).
"""

from __future__ import annotations

import zlib

import numpy as np

LANDMARKING_MEASURES = (
    "best_node",
    "elite_nn",
    "linear_discr",
    "naive_bayes",
    "one_nn",
    "random_node",
    "worst_node",
)


def rankdata_avg(values: np.ndarray) -> np.ndarray:
    """Average-ties ranking (scipy.stats.rankdata default), 1-based."""
    order = np.argsort(values, kind="mergesort")
    ranks = np.empty(values.size, dtype=float)
    sv = values[order]
    i = 0
    while i < values.size:
        j = i
        while j + 1 < values.size and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    return ranks


def add_relative_landmarking(rows: dict[str, float]) -> dict[str, float]:
    """Append ``.relative`` rank features per summary suffix."""
    suffixes: dict[str, list[str]] = {}
    for name in rows:
        base, _, suffix = name.partition(".")
        if base in LANDMARKING_MEASURES and suffix:
            suffixes.setdefault(suffix, []).append(name)
    out = dict(rows)
    for suffix, names in suffixes.items():
        names = sorted(names)
        vals = np.array([rows[n] for n in names], dtype=float)
        if np.isnan(vals).all():
            continue
        ranks = rankdata_avg(np.nan_to_num(vals, nan=-np.inf))
        for n, rk in zip(names, ranks):
            out[f"{n}.relative"] = float(rk)
    return out


def conv_seed(conv_id: str, global_seed: int = 42) -> int:
    """Deterministic per-conversation seed, stable across partitions."""
    return (zlib.crc32(conv_id.encode()) ^ global_seed) & 0x7FFFFFFF


def bootstrap_indices(
    n: int, conv_id: str, sample_num: int = 128, global_seed: int = 42
) -> list[np.ndarray]:
    """The ``sample_num`` sorted row-resample indices of one
    conversation of ``n`` rows, seeded per conversation."""
    rng = np.random.RandomState(conv_seed(conv_id, global_seed))
    return [np.sort(rng.randint(0, n, size=n)) for _ in range(sample_num)]


def bootstrap_intervals(
    est: dict[str, float], boots: list[dict[str, float]], confidence: float = 0.95
) -> dict[str, tuple[float, float, float]]:
    """(estimate, ci_low, ci_high) per measure: empirical-bootstrap
    interval of the resample rows ``boots`` around ``est``."""
    alpha = (1.0 - confidence) / 2.0
    out = {}
    for k, e in est.items():
        bs = np.asarray([b.get(k, float("nan")) for b in boots], dtype=float)
        bs = bs[~np.isnan(bs)]
        if bs.size == 0 or np.isnan(e):
            out[k] = (e, float("nan"), float("nan"))
            continue
        lo = 2.0 * e - float(np.quantile(bs, 1.0 - alpha))
        hi = 2.0 * e - float(np.quantile(bs, alpha))
        out[k] = (e, lo, hi)
    return out


def bootstrap_rows(
    compute_rows,
    arrays: tuple,
    conv_id: str,
    sample_num: int = 128,
    confidence: float = 0.95,
    global_seed: int = 42,
) -> dict[str, tuple[float, float, float]]:
    """(estimate, ci_low, ci_high) per measure via empirical bootstrap.

    ``compute_rows(arrays) -> dict[name, value]``; ``arrays`` are the
    per-conversation column arrays (resampled jointly by row index).
    """
    idx = bootstrap_indices(arrays[0].shape[0], conv_id, sample_num, global_seed)
    return bootstrap_intervals(
        compute_rows(arrays),
        [compute_rows(tuple(a[i] for a in arrays)) for i in idx],
        confidence,
    )
