"""One moment algebra: every mean / sd / skewness / kurtosis site of the
engine finishes its moments here, each piece written once.

- **Central path** (two passes, ``**`` / ``pow``), the kernel's
  pymfe-parity form: ``central_moments`` gives the population m2, m3,
  m4 of each row; ``skewness`` / ``kurtosis`` finish e1071 type 3
  (pymfe ``_summary.py:146-270``) in numpy, and ``central_shape`` is
  the same float tree as a Spark Column or DuckDB SQL text.
- **Raw power-sum path**: state ``(n, S1..S4)``. The sums stay exact
  integers in double while below 2^53, so states merge by plain
  addition in any order and Spark and DuckDB agree bit for bit. The
  finishers use ``+ - * /`` and ``sqrt`` only (correctly rounded in
  every engine, unlike ``pow``), so one code path runs on Python
  floats, Spark Columns and SQL text.

One degenerate-input rule: sd needs n >= 2; skewness, kurtosis and
correlation need m2 > 0. Undefined values are NaN (numpy, Python) or
NULL (Spark, DuckDB), never a division-by-zero error under ANSI mode.
An ``Engine`` (``PY``, ``COL``, ``SQL``, and ``NP(starts)`` for numpy
arrays holding many conversations as row segments) supplies the
non-arithmetic pieces; ``Sql`` is SQL text that composes with the operators like a
Column, fully parenthesised, so an oracle evaluates Spark's float tree.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from typing import Any, NamedTuple

import numpy as np
from pyspark.sql import functions as F

# -------------------------------------------------- central path, numpy


def central_moments(
    X: np.ndarray, orders: tuple[int, ...] = (2, 3, 4)
) -> tuple[np.ndarray, ...]:
    """mean((x - mean(x))**p) of each row of 2-D ``X`` for each p in
    ``orders``. Reducing the last axis makes a 1-row ``X`` bit-identical
    to the 1-D form; ``x ** p`` stays, as pow and unrolled
    multiplication can differ in the last ulp."""
    d0 = X - X.mean(axis=1)[:, None]
    return tuple((d0**p).mean(axis=1) for p in orders)


def _per_column(n, m2: np.ndarray, mk: np.ndarray, tail) -> np.ndarray:
    # scalar tail per element: numpy's vector pow ufunc (SIMD) rounds
    # m2**1.5 1 ulp away from the scalar np.float64 pow. ``n`` is one
    # sample size or one per element (a segment's length).
    shape = np.shape(m2)
    ns = np.broadcast_to(n, shape).ravel().tolist()
    return np.array(
        [
            math.nan if k < 2 or a == 0 else float(tail(k, a, b))
            for k, a, b in zip(ns, np.ravel(m2), np.ravel(mk))
        ]
    ).reshape(shape)


def skewness(n, m2: np.ndarray, m3: np.ndarray) -> np.ndarray:
    """e1071 type-3 skewness per column; NaN where n < 2 or m2 == 0."""
    return _per_column(n, m2, m3, lambda n, a, b: b / a**1.5 * ((n - 1) / n) ** 1.5)


def kurtosis(n, m2: np.ndarray, m4: np.ndarray) -> np.ndarray:
    """e1071 type-3 kurtosis per column; NaN where n < 2 or m2 == 0.
    ``- 3.0 + 3.0`` is g2 = m4/m2^2 - 3, then g2 + 3, in float order."""
    return _per_column(
        n, m2, m4, lambda n, a, b: (b / a**2 - 3.0 + 3.0) * (1.0 - 1.0 / n) ** 2 - 3.0
    )


# -------------------------------------------------------------- engines


def _infix(op: str) -> tuple[Callable, Callable]:
    return (
        lambda a, b: Sql(f"({a} {op} {b})"),
        lambda a, b: Sql(f"({b} {op} {a})"),
    )


class Sql:
    """DuckDB SQL text that composes with ``+ - * /``, unary ``-``,
    ``>=``, ``>``, ``<`` and ``&`` like a Spark Column, keeping the
    Python expression's tree."""

    __slots__ = ("text",)

    def __init__(self, text: object) -> None:
        self.text = str(text)

    def __str__(self) -> str:
        return self.text

    __add__, __radd__ = _infix("+")
    __sub__, __rsub__ = _infix("-")
    __mul__, __rmul__ = _infix("*")
    __truediv__, __rtruediv__ = _infix("/")
    __and__, __rand__ = _infix("AND")
    __ge__ = _infix(">=")[0]
    __gt__ = _infix(">")[0]
    __lt__ = _infix("<")[0]

    def __neg__(self) -> Sql:
        return Sql(f"(-{self})")


def _sql_fn(name: str) -> Callable[..., Sql]:
    return lambda *args: Sql(f"{name}({', '.join(map(str, args))})")


class Engine(NamedTuple):
    sqrt: Callable
    when: Callable  # when(cond, thunk): thunk() where cond, else NaN/NULL
    nonzero: Callable | None = None  # x, or NULL where x == 0
    pow: Callable | None = None
    abs: Callable | None = None
    col: Callable | None = None  # column reference by name
    lit: Callable | None = None  # a literal as the left operand of + or *
    ln: Callable | None = None
    log2: Callable | None = None
    sum: Callable | None = None  # aggregates over a group's rows
    count: Callable | None = None
    max: Callable | None = None
    exact_int: Callable | None = None  # to decimal(38,0) / HUGEINT: exact products
    to_double: Callable | None = None


PY = Engine(
    sqrt=math.sqrt,
    when=lambda ok, value: value() if ok else math.nan,
    ln=math.log,
    log2=math.log2,
)
COL = Engine(
    sqrt=F.sqrt,
    when=lambda ok, value: F.when(ok, value()),
    nonzero=lambda x: F.nullif(x, F.lit(0.0)),
    pow=F.pow,
    abs=F.abs,
    col=F.col,
    lit=F.lit,
    ln=F.log,
    log2=F.log2,
    sum=F.sum,
    count=F.count,
    max=F.max,
    exact_int=lambda x: x.cast("decimal(38,0)"),
    to_double=lambda x: x.cast("double"),
)
SQL = Engine(
    sqrt=_sql_fn("sqrt"),
    when=lambda ok, value: Sql(f"CASE WHEN {ok} THEN {value()} END"),
    nonzero=lambda x: Sql(f"nullif({x}, 0)"),
    pow=_sql_fn("pow"),
    abs=_sql_fn("abs"),
    col=Sql,
    lit=Sql,
    ln=_sql_fn("ln"),
    log2=_sql_fn("log2"),
    sum=_sql_fn("sum"),
    count=_sql_fn("count"),
    max=_sql_fn("max"),
    exact_int=lambda x: Sql(f"CAST({x} AS HUGEINT)"),
    to_double=lambda x: Sql(f"CAST({x} AS DOUBLE)"),
)



_PW_BLOCK = 128  # numpy's pairwise-summation block (PW_BLOCKSIZE)


def _pw_leaf(x: np.ndarray, lo: np.ndarray, n: np.ndarray) -> np.ndarray:
    """numpy's summation of x[..., lo:lo + n] for n <= 128: in order
    below 8 elements, else 8 strided accumulators combined as a tree,
    then the last n % 8 elements in order. Padding adds exact zeros."""
    out = np.zeros(x.shape[:-1] + lo.shape)
    short = n < 8
    if short.any():
        ls, ns = lo[short], n[short]
        acc = np.zeros(x.shape[:-1] + ls.shape)
        for j in range(int(ns.max())):
            acc = acc + np.where(j < ns, x[..., np.minimum(ls + j, x.shape[-1] - 1)], 0.0)
        out[..., short] = acc
    if (~short).any():
        ll, nl = lo[~short], n[~short]
        n8 = nl - nl % 8
        idx = ll[:, None] + np.arange(8)
        acc = x[..., idx]
        for i in range(8, int(n8.max()), 8):
            ok = (i < n8)[:, None]
            acc = acc + np.where(ok, x[..., np.minimum(idx + i, x.shape[-1] - 1)], 0.0)
        r = acc[..., 0] + acc[..., 1]
        r = (r + (acc[..., 2] + acc[..., 3])) + (
            (acc[..., 4] + acc[..., 5]) + (acc[..., 6] + acc[..., 7])
        )
        for t in range(7):
            ok = t < nl % 8
            r = r + np.where(ok, x[..., np.minimum(ll + n8 + t, x.shape[-1] - 1)], 0.0)
        out[..., ~short] = r
    return out


def _pw(x: np.ndarray, lo: np.ndarray, n: np.ndarray) -> np.ndarray:
    """numpy's pairwise sum of every range: above 128 elements a range
    is the sum of its halves (the first half rounded down to a multiple
    of 8). All ranges split at once, so the recursion depth, not the
    number of leaves, sets the number of calls."""
    big = n > _PW_BLOCK
    if not big.any():
        return _pw_leaf(x, lo, n)
    out = np.empty(x.shape[:-1] + lo.shape)
    out[..., ~big] = _pw_leaf(x, lo[~big], n[~big])
    nb = n[big]
    half = nb // 2
    half -= half % 8
    halves = _pw(x, np.concatenate([lo[big], lo[big] + half]), np.concatenate([half, nb - half]))
    m = len(nb)
    out[..., big] = halves[..., :m] + halves[..., m:]
    return out


_BUFSIZE = 8192  # numpy's ufunc buffer: a longer sum adds 8192-element chunks in order


def range_sum(x: np.ndarray, lo: np.ndarray, n: np.ndarray) -> np.ndarray:
    """:func:`seg_sum` of the ranges ``x[..., lo:lo + n]`` (n >= 1)."""
    x, lo, n = np.asarray(x, dtype=float), np.asarray(lo), np.asarray(n)
    k = (n + _BUFSIZE - 1) // _BUFSIZE
    if (k <= 1).all():
        return _pw(x, lo, n)
    first = np.cumsum(k) - k
    i = np.arange(k.sum()) - np.repeat(first, k)
    rng = np.repeat(np.arange(len(n)), k)
    parts = _pw(x, lo[rng] + i * _BUFSIZE, np.minimum(_BUFSIZE, n[rng] - i * _BUFSIZE))
    out = parts[..., first]
    for j in range(1, int(k.max())):
        out = out + np.where(j < k, parts[..., np.minimum(first + j, len(i) - 1)], 0.0)
    return out


def seg_sum(x: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Sum of each segment ``x[..., starts[i]:starts[i + 1]]`` in
    numpy's own order (pairwise within 8192-element chunks, chunks in
    order), so every value is bit-identical to ``ndarray.sum`` of that
    segment alone (``np.add.reduceat`` is not) and independent of where
    the segment sits in the batch."""
    return range_sum(x, starts[:-1], np.diff(starts))


def NP(starts: np.ndarray) -> Engine:
    """The segmented numpy engine: arrays whose last axis holds many
    conversations as row segments ``starts[i]:starts[i + 1]`` (every
    segment non-empty). ``sum`` / ``count`` / ``max`` reduce each
    segment; ``sum`` in numpy's pairwise order (:func:`seg_sum`)."""
    lo = starts[:-1]
    lens = np.diff(starts)

    def when(ok, value):
        return np.where(ok, value(), np.nan)

    return Engine(
        sqrt=np.sqrt,
        when=when,
        nonzero=lambda x: np.where(x == 0, np.nan, x),
        pow=np.power,
        abs=np.abs,
        lit=lambda x: x,
        ln=np.log,
        log2=np.log2,
        sum=lambda x: seg_sum(x, starts),
        count=lambda x: lens if isinstance(x, str) else seg_sum(~np.isnan(x), starts),
        max=lambda x: np.maximum.reduceat(x, lo, axis=-1),
        to_double=lambda x: np.asarray(x, dtype=float),
    )


def seg_sort(x: np.ndarray, seg: np.ndarray) -> np.ndarray:
    """``x`` sorted within each segment (``seg``: the non-decreasing
    segment id of every element); NaN sorts last, as in ``np.sort``."""
    return x[np.lexsort((x, seg))]


def seg_quantile(s: np.ndarray, lo, lens, q) -> np.ndarray:
    """numpy's ``linear`` quantile ``q`` of the pre-sorted segments
    ``s[lo:lo + lens]`` (broadcast over ``lo``, ``lens`` and ``q``):
    np.quantile's index arithmetic and its two-sided ``_lerp``, so each
    value is bit-identical to ``np.quantile`` of the segment alone."""
    virtual = (lens - 1) * np.asarray(q, dtype=float)
    prev = np.floor(virtual)
    above = virtual >= lens - 1
    prev = np.where(above, -1.0, prev)
    last = lo + lens - 1
    a = s[np.where(above, last, lo + prev.astype(np.intp))]
    b = s[np.where(above, last, lo + prev.astype(np.intp) + 1)]
    t = virtual - prev
    diff = b - a
    return np.where(t >= 0.5, b - diff * (1 - t), a + diff * t)


def seg_median(s: np.ndarray, lo, lens) -> np.ndarray:
    """``np.median`` of the pre-sorted segments: the middle value, or
    the two middle values' sum halved."""
    mid = lo + lens // 2
    even = lens % 2 == 0
    return np.where(even, (s[np.where(even, mid - 1, mid)] + s[mid]) / 2, s[mid])


# ------------------------------------ central path, Spark Column / SQL


def central_shape(n: Any, m2: Any, m3: Any, m4: Any, e: Engine) -> tuple:
    """(skewness, kurtosis), e1071 type 3, from the population central
    moments: the float tree of ``skewness`` / ``kurtosis``; NULL where
    m2 == 0 (which n < 2 implies)."""
    m2 = e.nonzero(m2)
    return (
        m3 / e.pow(m2, 1.5) * e.pow((n - 1.0) / n, 1.5),
        (m4 / e.pow(m2, 2.0) - 3.0 + 3.0) * e.pow(1.0 - 1.0 / n, 2.0) - 3.0,
    )


def bessel(n: Any, e: Engine) -> Any:
    """n / (n - 1), the population -> ddof=1 scale; NULL where n < 2."""
    return n / e.nonzero(n - 1.0)


def correlation(cxy: Any, m2x: Any, m2y: Any, e: Engine) -> Any:
    """Pearson r from the population cross and second moments; NULL
    where either m2 is 0."""
    return cxy / e.nonzero(e.sqrt(m2x * m2y))


# ------------------------------------------ raw power-sum path, any engine


def power_sum_state(x: np.ndarray) -> tuple:
    """(n, S1, S2, S3, S4) of a 1-D array; states merge by addition.
    Multiplies, as Spark does: numpy's vector ``x ** 3`` is inexact."""
    x2 = x * x
    x3 = x2 * x
    return (int(x.size), *(float(p.sum()) for p in (x, x2, x3, x3 * x)))


def power_sum_moments(n: Any, s1: Any, s2: Any, s3: Any, s4: Any) -> tuple:
    """(mu, m2, m3, m4) population moments from the power-sum state."""
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - 3 * mu * (s2 / n) + 2 * mu * mu * mu
    m4 = (
        s4 / n
        - 4 * mu * (s3 / n)
        + 6 * mu * mu * (s2 / n)
        - 3 * mu * mu * mu * mu
    )
    return mu, m2, m3, m4


def power_sum_sd(n: Any, s1: Any, s2: Any, e: Engine) -> Any:
    """ddof=1 sd from n, S1, S2; NaN/NULL where n < 2."""
    return e.when(n >= 2, lambda: e.sqrt((s2 - s1 * s1 / n) / (n - 1)))


def power_sum_stats(n: Any, s1: Any, s2: Any, s3: Any, s4: Any, e: Engine) -> tuple:
    """(mean, sd, skewness, kurtosis) from the power-sum state; the
    e1071 type-3 shape uses sqrt in place of pow and is NaN/NULL unless
    n >= 2 and m2 > 0."""
    mu, m2, m3, m4 = power_sum_moments(n, s1, s2, s3, s4)
    q = (n - 1) / n
    ok = (n >= 2) & (m2 > 0)
    return (
        mu,
        power_sum_sd(n, s1, s2, e),
        e.when(ok, lambda: m3 / (m2 * e.sqrt(m2)) * (q * e.sqrt(q))),
        e.when(ok, lambda: m4 / (m2 * m2) * (q * q) - 3),
    )
