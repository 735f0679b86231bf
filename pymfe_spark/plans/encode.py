"""Categorical -> numeric encoding (the cat->num half of pymfe's type
bridging), pure numpy for use inside Arrow kernels.

Re-creates /root/reference/pymfe/_internal.py:1481-1547:

- ``gray``: the patsy model-matrix ``~ 0 + C0 + ... + Cn`` semantics
  (transform_cat_gray, _internal.py:1481-1516). Patsy's full-rank
  redundancy resolution gives the FIRST categorical term full indicator
  coding (all k levels) and every subsequent term reduced coding (k-1,
  first sorted level dropped). Validated against the reference's own
  published goldens: exact on tests/test_datasets/mix_aids (statistical
  mean/sd/cor/gravity), and within the reference's own test tolerance
  on cat_kr-vs-kp (mean stats exact to 1e-9; the sd golden there
  predates the current patsy behavior).
- ``one-hot``: per-column k-1 indicator coding, first sorted level
  dropped (transform_cat_onehot with drop="first",
  _internal.py:1519-1547 + _utils.py:29-34); raises on columns with
  <= 1 distinct value, as sklearn's drop="first" encoder does.
- ``one-hot-full``: all k indicators per column.

Levels are sorted lexicographically on their str form — both patsy and
sklearn's OneHotEncoder sort categories.
"""

from __future__ import annotations

import numpy as np

from pymfe_spark.functions.moments import seg_quantile, seg_sort

VALID_TRANSFORM_CAT = ("gray", "one-hot", "one-hot-full")


def equal_freq_bins(
    v: np.ndarray,
    num_bins: int | None = None,
    tol: float = 1e-8,
    starts: np.ndarray | None = None,
) -> np.ndarray:
    """Equal-frequency discretization of one column, reference-exact
    (_equal_freq_discretization, _internal.py:1550-1624): default bin
    count floor(n^(1/3)); divider set = quantiles at
    linspace(0,1,k+1)[1:], near-duplicate dividers dropped (tol), then
    digitize(right=True). With segment offsets ``starts`` every
    segment ``v[starts[i]:starts[i + 1]]`` is binned on its own, in
    one pass (one sort) for all of them."""
    v = np.asarray(v, dtype=float)
    if starts is None:
        starts = np.array([0, v.size])
    lens = np.diff(starts)
    out = np.zeros(v.size, dtype=np.int64)
    ks = {
        n: num_bins or max(int(np.floor(n ** (1.0 / 3.0) + 1e-9)), 1)
        for n in np.unique(lens).tolist()
    }
    k = np.array([ks[n] for n in lens.tolist()], dtype=np.int64)
    if not len(k) or k.max() <= 1:
        return out
    seg = np.repeat(np.arange(len(lens)), lens)
    s = seg_sort(v, seg)
    divs = np.full((len(lens), int(k.max())), np.inf)
    for kk in np.unique(k[k > 1]).tolist():
        segs = np.flatnonzero(k == kk)
        q = np.linspace(0, 1, kk + 1)[1:]
        d = seg_quantile(s, starts[segs][:, None], lens[segs][:, None], q[None, :])
        keep = np.ones(d.shape, dtype=bool)
        keep[:, 1:] = np.diff(d, axis=1) > tol
        divs[segs, :kk] = np.where(keep, d, np.inf)
    # digitize(right=True) on increasing dividers = #dividers below v
    return (divs[seg] < v[:, None]).sum(axis=1)


def transform_num(
    N: np.ndarray, num_bins: int | None = None
) -> np.ndarray | None:
    """Column-wise equal-frequency discretization of a numeric matrix
    (transform_num, _internal.py:1574-1624); None for empty input."""
    if N.size == 0:
        return None
    return np.column_stack(
        [equal_freq_bins(N[:, j].astype(float), num_bins) for j in range(N.shape[1])]
    )


def _indicator(col: np.ndarray, keep: np.ndarray) -> np.ndarray:
    return (col[:, None] == keep[None, :]).astype(float)


def transform_cat(C: np.ndarray, option: str | None) -> np.ndarray | None:
    """Encode a 2-D categorical matrix; None/empty -> None (the
    reference returns None for empty input, _internal.py:1489-1490)."""
    if option is None or C.size == 0:
        return None
    if option not in VALID_TRANSFORM_CAT:
        raise ValueError(
            f"unknown transform_cat option {option!r}; "
            f"choose one of {VALID_TRANSFORM_CAT}"
        )
    blocks = []
    for j in range(C.shape[1]):
        col = C[:, j].astype(str)
        levels = np.unique(col)
        if option == "one-hot-full" or (option == "gray" and j == 0):
            keep = levels
        else:
            if option == "one-hot" and levels.size <= 1:
                raise ValueError(
                    "one-hot (drop-first) encoding does not support "
                    f"features with <= 1 distinct value (column {j}); "
                    "drop the feature or use another strategy"
                )
            keep = levels[1:]
        blocks.append(_indicator(col, keep))
    return np.hstack(blocks)


def infer_column_types(
    X: np.ndarray,
    cat_cols: "str | list[int] | None" = "auto",
    check_bool: bool = False,
) -> tuple[tuple[int, ...], tuple[int, ...]]:
    """(numeric_idx, categorical_idx) for a mixed 2-D matrix — the
    _fill_col_ind_by_type semantics (mfe.py:617-687): with
    ``cat_cols='auto'`` a column is numeric iff every value is an
    int/float/np.number INSTANCE (type-based, _internal.py:1402-1435
    isnumeric; string digits stay categorical); ``check_bool`` also
    flags any 2-distinct-value column categorical (fit default False,
    mfe.py:913); an explicit index iterable overrides; falsy -> all
    numeric."""
    X = np.asarray(X, dtype=object)
    d = X.shape[1]
    if not cat_cols:
        is_cat = np.zeros(d, dtype=bool)
    elif isinstance(cat_cols, str) and cat_cols.lower() == "auto":
        numeric_types = (int, float, np.number)
        is_cat = np.array(
            [
                not all(isinstance(v, numeric_types) for v in X[:, j])
                for j in range(d)
            ]
        )
        if check_bool:
            is_cat |= np.array(
                [np.unique(X[:, j].astype(str)).size == 2 for j in range(d)]
            )
    elif hasattr(cat_cols, "__len__") and not isinstance(cat_cols, str):
        is_cat = np.array([j in cat_cols for j in range(d)])
    else:
        raise ValueError(
            f'invalid cat_cols {cat_cols!r}: expecting "auto" or an '
            "integer iterable"
        )
    return (
        tuple(int(j) for j in np.flatnonzero(~is_cat)),
        tuple(int(j) for j in np.flatnonzero(is_cat)),
    )


def batch_from_X(
    X: np.ndarray,
    y: np.ndarray,
    cat_cols: "str | list[int] | None" = "auto",
    check_bool: bool = False,
    **kwargs,
):
    """fit(X, y)-shaped entry: infer the num/cat split
    (infer_column_types) then assemble the views (batch_from_xy)."""
    X = np.asarray(X, dtype=object)
    num_idx, cat_idx = infer_column_types(X, cat_cols, check_bool)
    X_num = (
        X[:, num_idx].astype(float)
        if num_idx
        else np.empty((X.shape[0], 0))
    )
    return batch_from_xy(X_num, X[:, cat_idx], y, **kwargs)


def batch_from_xy(
    X_num: np.ndarray,
    X_cat: np.ndarray,
    y: np.ndarray,
    transform_cat_opt: str | None = "gray",
    do_transform_num: bool = True,
    num_bins: int | None = None,
    rescale: str | None = None,
    config: dict | None = None,
):
    """Reference-shaped view assembly for an arbitrary (X, y) dataset —
    the fit() data model (mfe.py:740-902) outside the transcript
    pipeline: N = numeric columns + transform_cat encodings (then
    rescale); C = categorical columns + transform_num discretizations;
    orig_num/orig_cat mark the original X attribute counts.

    Used by the mixed-type golden tests and usable as a generic entry
    for per-group ``applyInPandas`` over any tabular slice."""
    from pymfe_spark.plans.measures import ConvBatch

    X_num = np.asarray(X_num, dtype=float).reshape(len(y), -1)
    X_cat = np.asarray(X_cat, dtype=object).reshape(len(y), -1)
    N = X_num
    enc = transform_cat(X_cat, transform_cat_opt)
    if enc is not None and enc.size:
        N = np.hstack([N, enc]) if N.size else enc
    if rescale is not None:
        from pymfe_spark.plans.extractor import rescale_numeric

        N = rescale_numeric(N, rescale)
    C = X_cat
    if do_transform_num:
        disc = transform_num(X_num, num_bins)
        if disc is not None:
            disc = disc.astype(object)
            C = np.hstack([C, disc]) if C.size else disc
    return ConvBatch(
        N=N,
        C=C,
        y=np.asarray(y, dtype=object),
        orig_cat=X_cat.shape[1],
        orig_num=X_num.shape[1],
        config=config or {},
    )
