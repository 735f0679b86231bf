"""Arrow-tier measure kernels — pure-numpy re-implementations of the
reference's ft_* measures.

Execution model: a :class:`ConvBatch` holds one Arrow batch's
conversations as row *segments*. The 47 measures of ``general``,
``statistical`` (all but ``nr_norm``) and ``info-theory`` are written
once, as segment forms: each reads the whole batch and returns one
result per segment, so a batch is one array program instead of ~96
numpy calls per conversation. ``MEASURES[name].fn(b)`` is that segment
form called on a one-segment batch. ``nr_norm`` and the other groups
run once per conversation (``fn`` on a one-segment view).

Batch views are built once per batch and shared by every measure — the
engine analogue of the reference's precompute cache
(/root/reference/pymfe/_internal.py:1169-1335): N transposed to a
C-contiguous ``(d, rows)`` array, per-segment sorts of each N column,
the C columns and y factorized to integer codes, per-segment count
tables over (segment, code) keys, and (segment, class) sub-segments
from one stable sort. Segment sums run through ``functions/moments.py``'s
``NP`` engine, in numpy's own pairwise order: a segment's value is the
one-conversation value bit for bit, whatever else shares its batch.
Only the covariance family (np.cov's BLAS product) and gravity's norm
(a BLAS dot) may differ from the one-conversation arithmetic, in the
last ulps. Crosstabs span only each conversation's own distinct values,
as the per-conversation crosstab did: codes are re-ranked per segment
and the eps smoothing counts exactly that segment's zero cells.

The sandbox has no scipy/sklearn, so every kernel is written from the
published formulas; reference citations mark the parity target.
Deviations (documented):

- ``nr_norm`` (no longer a deviation): Shapiro-Wilk / D'Agostino /
  Anderson-Darling implemented from the published algorithms in
  plans/normality.py, golden-verified per method against the
  reference's own expectations. Same head-5000 row cap.
- ``can_cor`` uses classical eigen-CCA instead of sklearn's NIPALS CCA
  (statistical.py:211-262) — identical canonical correlations at
  convergence.
- ``sd_ratio`` replicates the reference's Box's M verbatim INCLUDING
  its np.flip(axis=(0,1)) of the covariance stack (statistical.py:
  1222-1230) — the row-only flip negates dets for p % 4 in {2, 3},
  which is why the reference's own mixed/categorical sd_ratio goldens
  are NaN; the engine matches that contract.

A null role is one more class (:data:`NULL_ROLE`, sorted after every
string label), as in the SQL tier.

Every kernel is exception-contained: failure -> NaN, never task failure
(mirrors _internal.py:568-621). A segment form that raises on a batch is
re-run one segment at a time, so only the failing conversation gets NaN.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pymfe_spark.functions.moments import (
    NP,
    kurtosis,
    range_sum,
    seg_median,
    seg_quantile,
    seg_sort,
    skewness,
)

EPS = 1e-8  # info_theory.py:184-195 crosstab smoothing


class _NullRole:
    """The class label of a turn whose role is null. It equals only
    itself and sorts after every string label (np.unique, and so the
    class order gravity and sd_ratio read); its str form sorts after
    any real label too (transform_cat levels)."""

    __slots__ = ()

    def __repr__(self) -> str:
        return "NULL_ROLE"

    def __str__(self) -> str:
        return "\U0010ffff<null role>"

    def __reduce__(self) -> str:
        return "NULL_ROLE"

    def __eq__(self, other) -> bool:
        return other is self

    def __ne__(self, other) -> bool:
        return other is not self

    def __hash__(self) -> int:
        return hash("pymfe_spark.NULL_ROLE")

    def __lt__(self, other) -> bool:
        return False

    def __le__(self, other) -> bool:
        return other is self

    def __gt__(self, other) -> bool:
        return other is not self

    def __ge__(self, other) -> bool:
        return True


NULL_ROLE = _NullRole()


# ---------------------------------------------------------------------
# batch container with lazy shared precomputations
# ---------------------------------------------------------------------


@dataclass
class ConvBatch:
    """Conversations' views: N (numeric), C (categorical), y, with the
    conversations as row segments ``starts[s]:starts[s + 1]`` (None =
    one conversation).

    Mirrors the reference's X -> N/C/y split (mfe.py:740-902):
    N columns: text_len, ts_delta_s (first-turn 0), turn_idx.
    C columns: role, tool ('NONE' for null), equal-freq-binned text_len.
    y: role.
    """

    N: np.ndarray  # (n, d_num) float
    C: np.ndarray  # (n, d_cat) object
    y: np.ndarray  # (n,) object
    _cache: dict = field(default_factory=dict)
    # leading C columns that are ORIGINAL attributes (the rest are
    # derived discretizations, like the reference's transform_num
    # output, which belongs to the C view but not to X); None = all.
    # Measures defined over X (e.g. sparsity, statistical.py:1368-1408)
    # read N plus only these columns.
    orig_cat: int | None = None
    # leading N columns that are ORIGINAL attributes (the rest are
    # transform_cat encodings, mfe.py:877-897, which belong to the N
    # view but not to X); None = all.
    orig_num: int | None = None
    # per-extraction knobs read by config-sensitive kernels
    # (num_cv_folds / lm_sample_frac / score for landmarking,
    # measure kwargs like nr_cor_attr's threshold) — the engine
    # analogue of the reference's kwargs routing
    # (/root/reference/pymfe/mfe.py:1208-1218, build_mtd_kwargs
    # _internal.py:624-708)
    config: dict = field(default_factory=dict)
    starts: np.ndarray | None = None

    def _cached(self, key, make):
        if key not in self._cache:
            self._cache[key] = make()
        return self._cache[key]

    # --- segments ---

    @property
    def bounds(self) -> np.ndarray:
        """Segment offsets, length S + 1."""
        if self.starts is None:
            self.starts = np.array([0, self.N.shape[0]], dtype=np.int64)
        return self.starts

    @property
    def S(self) -> int:
        return len(self.bounds) - 1

    def lens(self) -> np.ndarray:
        return self._cached("seg:lens", lambda: np.diff(self.bounds))

    def seg(self) -> np.ndarray:
        """Segment id of every row."""
        return self._cached(
            "seg:id", lambda: np.repeat(np.arange(self.S), self.lens())
        )

    def engine(self):
        """The segmented numpy engine over this batch's segments."""
        return self._cached("seg:np", lambda: NP(self.bounds))

    def segment(self, s: int) -> ConvBatch:
        """Segment ``s`` as a one-conversation batch (row views)."""
        if self.S == 1:
            return self
        a, e = self.bounds[s], self.bounds[s + 1]
        return ConvBatch(
            N=self.N[a:e],
            C=self.C[a:e],
            y=self.y[a:e],
            orig_cat=self.orig_cat,
            orig_num=self.orig_num,
            config=self.config,
        )

    # --- per-conversation precomputations (other groups) ---

    def classes(self) -> tuple[np.ndarray, np.ndarray]:
        if "classes" not in self._cache:
            self._cache["classes"] = np.unique(self.y, return_counts=True)
        return self._cache["classes"]

    def cls_inds(self) -> np.ndarray:
        if "cls_inds" not in self._cache:
            classes, _ = self.classes()
            self._cache["cls_inds"] = np.array(
                [self.y == c for c in classes]
            )
        return self._cache["cls_inds"]

    def dist_mat(self) -> np.ndarray:
        """Euclidean all-pairs distance matrix of raw N
        (clustering.py:105-215 precompute_group_distances)."""
        if "dist_mat" not in self._cache:
            self._cache["dist_mat"] = _cdist(self.N, self.N)
        return self._cache["dist_mat"]

    def concept_dist_mat(self) -> np.ndarray:
        """Euclidean distances of 0-1 min-max-scaled N
        (concept.py:56-97 precompute_concept_dist)."""
        if "concept_dist" not in self._cache:
            X = self.N
            mn, mx = X.min(axis=0), X.max(axis=0)
            rng = np.where(mx > mn, mx - mn, 1.0)
            Xs = (X - mn) / rng
            self._cache["concept_dist"] = _cdist(Xs, Xs)
        return self._cache["concept_dist"]

    def cov_mat(self) -> np.ndarray:
        """Segment 0's covariance matrix (ddof=1)."""
        return _scatter(self)[1][0]

    # --- batch views (segment forms) ---

    def NT(self) -> np.ndarray:
        """N transposed to a C-contiguous (d, rows) array: every column
        reduction runs along its last axis."""
        return self._cached("NT", lambda: np.ascontiguousarray(self.N.T))

    def n_sorted(self) -> np.ndarray:
        """Each row of NT sorted within segments."""
        return self._cached(
            "nsort", lambda: np.stack([seg_sort(x, self.seg()) for x in self.NT()])
            if self.NT().shape[0] else self.NT().copy(),
        )

    def quantile(self, q: float) -> np.ndarray:
        """(d, S) linear quantile q of every column and segment."""
        lo, lens = self.bounds[:-1], self.lens()
        return self._cached(
            ("quantile", q),
            lambda: np.array([seg_quantile(s, lo, lens, q) for s in self.n_sorted()]).reshape(-1, self.S),
        )

    def median(self) -> np.ndarray:
        lo, lens = self.bounds[:-1], self.lens()
        return self._cached(
            "median",
            lambda: np.array([seg_median(s, lo, lens) for s in self.n_sorted()]).reshape(-1, self.S),
        )

    def col_min(self) -> np.ndarray:
        """(d, S) column minima."""
        return self._cached("min", lambda: np.minimum.reduceat(self.NT(), self.bounds[:-1], axis=1))

    def col_max(self) -> np.ndarray:
        return self._cached("max", lambda: self.engine().max(self.NT()))

    def seg_mean(self) -> np.ndarray:
        """(d, S) column means."""
        return self._cached("mean", lambda: self.engine().sum(self.NT()) / self.lens())

    def centered(self) -> np.ndarray:
        """NT minus its segment means."""
        return self._cached("centered", lambda: self.NT() - self.seg_mean()[:, self.seg()])

    def codes(self, col) -> tuple[np.ndarray, int]:
        """(batch-wide integer codes, code count) of C column ``col`` or
        of y (``col="y"``), ranked in label order; a missing label gets
        its own code, after every other."""

        def make():
            arr = self.y if col == "y" else self.C[:, col]
            raw, uniq = pd.factorize(arr)
            uniq = np.asarray(uniq, dtype=object)
            rank = np.empty(len(uniq) + 1, dtype=np.int64)
            rank[np.argsort(uniq, kind="stable")] = np.arange(len(uniq))
            rank[-1] = len(uniq)  # pandas' -1 for a missing label
            return rank[raw], len(uniq) + int((raw < 0).any())

        return self._cached(("codes", col), make)

    def table(self, col) -> np.ndarray:
        """(S, K) per-segment counts of every code of ``col``."""

        def make():
            c, k = self.codes(col)
            t = np.bincount(self.seg() * k + c, minlength=self.S * k)
            return t.reshape(self.S, k)

        return self._cached(("table", col), make)

    def nuniq(self, col) -> np.ndarray:
        """Distinct values of ``col`` per segment."""
        return self._cached(("nuniq", col), lambda: (self.table(col) > 0).sum(axis=1))

    def local(self, col) -> np.ndarray:
        """Each row's code re-ranked within its segment (0 = the
        segment's smallest label)."""

        def make():
            t = self.table(col) > 0
            rank = np.cumsum(t, axis=1) - 1
            return rank[self.seg(), self.codes(col)[0]]

        return self._cached(("local", col), make)

    def entropy(self, col) -> np.ndarray:
        """(S,) base-2 Shannon entropy of ``col`` per segment."""

        def make():
            t = self.table(col)
            cnt = t[t > 0]  # row-major: by segment, then label
            off = np.concatenate(([0], np.cumsum(self.nuniq(col))))
            p = cnt / np.repeat(self.lens(), self.nuniq(col))
            h = -NP(off).sum(p * np.log(p))
            return h / np.log(2)

        return self._cached(("entropy", col), make)

    def crosstab(self, a, b) -> tuple:
        """Dense per-segment crosstab of ``a`` (rows) by ``b`` (cols),
        each segment's table spanning only its own distinct values:
        (counts, flat by segment then row-major; cell offsets per
        segment; segment of each cell; column key of each cell; cell
        offset of each row; row offsets per segment; column count of
        the column keys)."""

        def make():
            na, nb = self.nuniq(a), self.nuniq(b)
            cells = na * nb
            off = np.concatenate(([0], np.cumsum(cells)))
            seg = self.seg()
            tab = np.bincount(
                off[:-1][seg] + self.local(a) * nb[seg] + self.local(b),
                minlength=off[-1],
            ).astype(float)
            cseg = np.repeat(np.arange(self.S), cells)
            pos = np.arange(off[-1]) - off[:-1][cseg]
            coff = np.concatenate(([0], np.cumsum(nb)))
            ckey = coff[:-1][cseg] + pos % nb[cseg]
            roff = np.concatenate(([0], np.cumsum(na)))
            rseg = np.repeat(np.arange(self.S), na)
            rstart = off[:-1][rseg] + (np.arange(roff[-1]) - roff[:-1][rseg]) * nb[rseg]
            return tab, off, cseg, ckey, rstart, roff, coff[-1]

        return self._cached(("crosstab", a, b), make)

    def by_class(self) -> tuple:
        """(segment, class) sub-segments from one stable sort by
        (segment, y code): (row order, sub-segment starts, segment and
        class code of each, row counts, sub-segment offsets per
        segment)."""

        def make():
            yc, k = self.codes("y")
            key = self.seg() * k + yc
            order = np.argsort(key, kind="stable")
            ks = key[order]
            st = np.concatenate(([0], np.flatnonzero(ks[1:] != ks[:-1]) + 1, [len(ks)]))
            sub = ks[st[:-1]]
            seg_of = sub // k
            nclass = np.bincount(seg_of, minlength=self.S)
            soff = np.concatenate(([0], np.cumsum(nclass)))
            return order, st, seg_of, sub % k, np.diff(st), soff

        return self._cached("by_class", make)


def _cdist(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Euclidean cdist via the expanded-square identity."""
    aa = (A * A).sum(axis=1)[:, None]
    bb = (B * B).sum(axis=1)[None, :]
    sq = aa + bb - 2.0 * (A @ B.T)
    np.maximum(sq, 0.0, out=sq)
    return np.sqrt(sq)


def _entropy(counts: np.ndarray, base: float | None = None) -> float:
    """Shannon entropy of a count vector. base=None -> natural log
    (scipy.stats.entropy default, info_theory.py:158-180 uses base=2)."""
    p = counts / counts.sum()
    p = p[p > 0]
    h = float(-(p * np.log(p)).sum())
    return h / np.log(base) if base else h


def _conc(a: np.ndarray, b: np.ndarray) -> float:
    """Goodman-Kruskal tau of a -> b for one pair of label arrays."""
    y = np.asarray(b, dtype=object)
    one = ConvBatch(N=np.zeros((len(y), 0)), C=np.column_stack([a, b]).astype(object), y=y)
    return float(_conc_seg(one, 0, 1)[0])


# ---------------------------------------------------------------------
# segment outputs and the measure registry
# ---------------------------------------------------------------------


@dataclass
class Ragged:
    """Per-segment vectors: segment s holds ``flat[offsets[s]:offsets[s
    + 1]]``. Where ``scalar[s]`` is set, its one value is a scalar
    result (the measure failed for that conversation alone: NaN)."""

    flat: np.ndarray
    offsets: np.ndarray
    scalar: np.ndarray | None = None

    @classmethod
    def fixed(cls, X: np.ndarray, failed: np.ndarray | None = None) -> Ragged:
        """(S, k) rows; ``failed`` segments become one scalar NaN."""
        X = np.asarray(X, dtype=float)
        S, k = X.shape
        if failed is None or not failed.any():
            return cls(X.ravel(), np.arange(S + 1) * k)
        lens = np.where(failed, 1, k)
        off = np.concatenate(([0], np.cumsum(lens)))
        flat = np.full(off[-1], np.nan)
        ok = ~failed
        flat[(off[:-1][ok][:, None] + np.arange(k)).ravel()] = X[ok].ravel()
        return cls(flat, off, failed)

    @classmethod
    def of(cls, values: list) -> Ragged:
        """From one result per segment (scalar or 1-D)."""
        arrs = [np.asarray(v, dtype=float) for v in values]
        scalar = np.array([a.ndim == 0 for a in arrs])
        flat = [a.ravel() for a in arrs]
        off = np.concatenate(([0], np.cumsum([f.size for f in flat])))
        return cls(
            np.concatenate(flat) if flat else np.zeros(0),
            off,
            scalar if scalar.any() else None,
        )

    def row(self, s: int):
        v = self.flat[self.offsets[s] : self.offsets[s + 1]]
        if self.scalar is not None and self.scalar[s]:
            return float(v[0])
        return v


SegOut = "np.ndarray | Ragged"  # (S,) scalars, or per-segment vectors
MeasureFn = Callable[[ConvBatch], "float | np.ndarray"]


@dataclass(frozen=True)
class MeasureDef:
    name: str
    group: str
    fn: MeasureFn
    needs_y: bool = False
    # the segment form (whole batch -> one result per segment), or None
    # for a measure that runs once per conversation
    seg: Callable[[ConvBatch], SegOut] | None = None


MEASURES: dict[str, MeasureDef] = {}


GROUPS: dict[str, list[str]] = {}


def _first(seg_fn):
    """The segment form called on a one-segment batch."""

    @functools.wraps(seg_fn)
    def fn(b: ConvBatch):
        out = seg_fn(b)
        if isinstance(out, Ragged):
            v = out.row(0)
            if isinstance(v, float):
                raise ValueError("measure undefined for this conversation")
            return v
        return float(out[0])

    return fn


def measure(name: str, group: str, needs_y: bool = False, segmented: bool = False):
    def deco(fn):
        MEASURES[name] = MeasureDef(
            name,
            group,
            _first(fn) if segmented else fn,
            needs_y,
            fn if segmented else None,
        )
        GROUPS.setdefault(group, []).append(name)
        return fn

    return deco


def batched(name: str, group: str, needs_y: bool = False):
    return measure(name, group, needs_y, segmented=True)


# ---- general (/root/reference/pymfe/general.py) ----------------------


def _d_cat(b: ConvBatch) -> int:
    """#ORIGINAL categorical attributes: the reference's attribute-count
    measures are defined over X (general.py:212-231 et al.), so derived
    discretizations (transform_num output; engine: len_bin) belong to
    the C *view* but not to the attribute counts."""
    return b.C.shape[1] if b.orig_cat is None else b.orig_cat


def _d_num(b: ConvBatch) -> int:
    """#ORIGINAL numeric attributes (transform_cat encodings belong to
    the N view but not to X — mfe.py:877-897)."""
    return b.N.shape[1] if b.orig_num is None else b.orig_num


def _full(b: ConvBatch, value: float) -> np.ndarray:
    return np.full(b.S, float(value))


batched("nr_inst", "general")(lambda b: b.lens().astype(float))  # 318-337
batched("nr_attr", "general")(lambda b: _full(b, _d_num(b) + _d_cat(b)))  # 212-231
batched("nr_num", "general")(lambda b: _full(b, _d_num(b)))  # 340-364
batched("nr_cat", "general")(lambda b: _full(b, _d_cat(b)))  # 263-284
batched("attr_to_inst", "general")(
    lambda b: (_d_num(b) + _d_cat(b)) / b.lens()
)  # 88-110
batched("inst_to_attr", "general")(
    lambda b: b.lens() / (_d_num(b) + _d_cat(b))
)  # 187-209
batched("cat_to_num", "general")(lambda b: _full(b, _d_cat(b) / _d_num(b)))  # 113-150
batched("num_to_cat", "general")(lambda b: _full(b, _d_num(b) / _d_cat(b)))  # 367-405
batched("nr_class", "general", needs_y=True)(
    lambda b: b.nuniq("y").astype(float)
)  # 287-315


@batched("freq_class", "general", needs_y=True)
def _freq_class(b: ConvBatch) -> Ragged:
    """Relative class frequencies (general.py:153-184) — vector,
    summarized downstream."""
    t = b.table("y")
    k = b.nuniq("y")
    return Ragged(t[t > 0] / np.repeat(b.lens(), k), np.concatenate(([0], np.cumsum(k))))


def _distinct(b: ConvBatch) -> np.ndarray:
    """(S, d) distinct values of each N column per segment, from the
    per-segment sorts (all NaNs count as one, as in np.unique)."""

    def make():
        s = b.n_sorted()
        new = np.ones_like(s, dtype=bool)
        if s.shape[1]:
            prev, cur = s[:, :-1], s[:, 1:]
            new[:, 1:] = (cur != prev) & ~(np.isnan(cur) & np.isnan(prev))
        new[:, b.bounds[:-1]] = True
        return b.engine().sum(new.astype(np.int64)).T if s.shape[1] else np.zeros((b.S, 0))

    return b._cached("distinct", make)


@batched("nr_bin", "general")
def _nr_bin(b: ConvBatch) -> np.ndarray:
    """#columns with exactly 2 distinct values (general.py:234-260) —
    defined over X, so only original attributes count (see _d_cat)."""
    n = (_distinct(b)[:, : _d_num(b)] == 2).sum(axis=1)
    for j in range(_d_cat(b)):
        n = n + (b.nuniq(j) == 2)
    return n.astype(float)


# ---- statistical (/root/reference/pymfe/statistical.py) --------------


def _cols(X: np.ndarray) -> Ragged:
    """(d, S) per-column values -> one d-vector per segment."""
    return Ragged.fixed(X.T)


batched("mean", "statistical")(lambda b: _cols(b.seg_mean()))  # 794-814
batched("median", "statistical")(lambda b: _cols(b.median()))  # 817-837
batched("min", "statistical")(lambda b: _cols(b.col_min()))  # 840-860
batched("max", "statistical")(lambda b: _cols(b.col_max()))  # 771-791
batched("range", "statistical")(
    lambda b: _cols(b.col_max() - b.col_min())
)  # 1114-1133


def _var(b: ConvBatch) -> np.ndarray:
    """(d, S) sample variance (ddof=1): NaN for a one-row segment."""
    return b._cached("var", lambda: b.engine().sum(b.centered() ** 2) / (b.lens() - 1))


batched("sd", "statistical")(lambda b: _cols(np.sqrt(_var(b))))  # 1136-1159
batched("var", "statistical")(lambda b: _cols(_var(b)))  # 1439-1462
batched("iq_range", "statistical")(
    lambda b: _cols(b.quantile(0.75) - b.quantile(0.25))
)  # 659-678


@batched("mad", "statistical")
def _mad(b: ConvBatch) -> Ragged:  # 741-768
    dev = np.abs(b.NT() - b.median()[:, b.seg()])
    lo, lens, seg = b.bounds[:-1], b.lens(), b.seg()
    med = [seg_median(seg_sort(x, seg), lo, lens) for x in dev]
    return _cols(1.4826 * np.array(med).reshape(-1, b.S))


@batched("g_mean", "statistical")
def _g_mean(b: ConvBatch) -> Ragged:
    """statistical.py:584-634: negative -> nan, zero -> 0."""
    mn = b.col_min()
    gm = np.exp(b.engine().sum(np.log(b.NT())) / b.lens())
    return _cols(np.where(mn < 0, np.nan, np.where(mn == 0, 0.0, gm)))


@batched("h_mean", "statistical")
def _h_mean(b: ConvBatch) -> Ragged:
    """statistical.py:637-656."""
    return _cols(b.lens() / b.engine().sum(1.0 / b.NT()))


@batched("t_mean", "statistical")
def _t_mean(b: ConvBatch) -> Ragged:
    """20%-trimmed mean (statistical.py:1411-1436)."""
    s, lens = b.n_sorted(), b.lens()
    k = np.floor(lens * 0.2).astype(np.int64)
    return _cols(range_sum(s, b.bounds[:-1] + k, lens - 2 * k) / (lens - 2 * k))


def _moments(b: ConvBatch) -> tuple[np.ndarray, ...]:
    """(m2, m3, m4) per column and segment, shared by skew/kurt."""

    def make():
        d0 = b.centered()
        return tuple(b.engine().sum(d0**p) / b.lens() for p in (2, 3, 4))

    return b._cached("cmoments", make)


@batched("skewness", "statistical")
def _skewness(b: ConvBatch) -> Ragged:  # 1310-1365
    m2, m3, _ = _moments(b)
    return _cols(skewness(b.lens(), m2, m3))


@batched("kurtosis", "statistical")
def _kurtosis(b: ConvBatch) -> Ragged:  # 681-738
    m2, _, m4 = _moments(b)
    return _cols(kurtosis(b.lens(), m2, m4))


@batched("sparsity", "statistical")
def _sparsity(b: ConvBatch) -> Ragged:
    """(n/d - 1)/(n - 1) per ORIGINAL attribute — statistical.py:
    1368-1408 operates on X, so derived columns (reference:
    transform_num/transform_cat output; engine: len_bin and encoded
    role/tool) are excluded. NaN for a one-row conversation."""
    d = np.column_stack(
        [_distinct(b)[:, : _d_num(b)]] + [b.nuniq(j) for j in range(_d_cat(b))]
    )
    n = b.lens()[:, None].astype(float)
    return Ragged.fixed(np.where(n <= 1, np.nan, (n / d - 1.0) / (n - 1.0)))


@batched("nr_outliers", "statistical")
def _nr_outliers(b: ConvBatch) -> np.ndarray:
    """#columns with a boxplot (whis=1.5) outlier (statistical.py:
    1068-1111)."""
    q1, q3 = b.quantile(0.25), b.quantile(0.75)
    iqr = q3 - q1
    out = (b.col_min() < q1 - 1.5 * iqr) | (b.col_max() > q3 + 1.5 * iqr)
    return out.sum(axis=0).astype(float)


def _scatter(b: ConvBatch) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per segment: centered cross-product sums P (S, d, d), the
    covariance P / (n - 1) as np.cov scales it, and the segments np.cov
    cannot give a matrix for — one row (np.cov then reads the row as a
    single variable and returns a scalar) or one column."""

    def make():
        d0 = b.centered().T
        P = np.add.reduceat(np.einsum("ni,nj->nij", d0, d0), b.bounds[:-1], axis=0)
        lens = b.lens()
        cov = P * (1.0 / (lens - 1.0))[:, None, None]
        return P, cov, (lens == 1) | (b.N.shape[1] == 1)

    return b._cached("scatter", make)


def _corr(b: ConvBatch) -> np.ndarray:
    """np.corrcoef per segment: cov / sd_i / sd_j, clipped to [-1, 1]."""

    def make():
        cov = _scatter(b)[1]
        sd = np.sqrt(np.diagonal(cov, axis1=1, axis2=2))
        c = cov / sd[:, :, None]
        c = c / sd[:, None, :]
        return np.clip(c, -1, 1)

    return b._cached("corr", make)


def _lower(M: np.ndarray) -> np.ndarray:
    i, j = np.tril_indices(M.shape[-1], k=-1)
    return M[:, i, j]


@batched("cor", "statistical")
def _cor(b: ConvBatch) -> Ragged:
    """abs lower triangle of corr matrix (statistical.py:410-450)."""
    return Ragged.fixed(np.abs(_lower(_corr(b))), _scatter(b)[2])


@batched("cov", "statistical")
def _cov(b: ConvBatch) -> Ragged:
    """abs lower triangle of covariance (statistical.py:453-498)."""
    return Ragged.fixed(np.abs(_lower(_scatter(b)[1])), _scatter(b)[2])


@batched("nr_cor_attr", "statistical")
def _nr_cor_attr(b: ConvBatch) -> np.ndarray:
    """fraction of pairs with |rho| >= threshold (statistical.py:
    863-915; default 0.5, overridable via measure_kwargs routing —
    the reference's ``extract(nr_cor_attr={"threshold": ...})``)."""
    thr = (
        b.config.get("measure_kwargs", {})
        .get("nr_cor_attr", {})
        .get("threshold", 0.5)
    )
    v = np.abs(_lower(_corr(b)))
    if not v.shape[1]:
        return np.full(b.S, np.nan)
    return np.where(_scatter(b)[2], np.nan, (v >= thr).sum(axis=1) / v.shape[1])


@batched("eigenvalues", "statistical")
def _eigenvalues(b: ConvBatch) -> Ragged:
    """eigvals of the covariance matrix (statistical.py:547-581); a
    segment whose matrix is not finite fails alone (eigvalsh raises)."""
    P, cov, bad = _scatter(b)
    bad = bad | ~np.isfinite(cov).all(axis=(1, 2))
    ev = np.full(cov.shape[:2], np.nan)
    if (~bad).any():
        ev[~bad] = np.linalg.eigvalsh(cov[~bad])[:, ::-1]
    return Ragged.fixed(ev, bad)


def _class_stats(b: ConvBatch) -> tuple:
    """Per (segment, class) sub-segment: N column sums and means, summed
    in row order (as ``N[y == c].mean(axis=0)`` sums), and each
    sub-segment's centered cross-product sums (the class scatter)."""

    def make():
        order, st, seg_of, _, cnt, _ = b.by_class()
        sub = np.empty(len(order), dtype=np.int64)
        sub[order] = np.repeat(np.arange(len(cnt)), cnt)
        sums = np.column_stack(
            [np.bincount(sub, weights=col, minlength=len(cnt)) for col in b.NT()]
        ).reshape(len(cnt), -1)
        means = sums / cnt[:, None]
        X = b.N[order]
        dc = X - np.repeat(means, cnt, axis=0)
        P = np.add.reduceat(np.einsum("ni,nj->nij", dc, dc), st[:-1], axis=0)
        return sums, means, P

    return b._cached("class_stats", make)


@batched("gravity", "statistical", needs_y=True)
def _gravity(b: ConvBatch) -> np.ndarray:
    """Distance between majority and minority class centroids
    (statistical.py:305-407); deterministic tie-break by class label."""
    _, _, seg_of, code, cnt, soff = b.by_class()
    means = _class_stats(b)[1]
    maj = np.lexsort((code, -cnt, seg_of))[soff[:-1][b.nuniq("y") > 0]]
    is_maj = np.zeros(len(cnt), dtype=bool)
    is_maj[maj] = True
    mino = np.lexsort((code, cnt, is_maj, seg_of))[soff[:-1]]
    out = np.full(b.S, np.nan)
    two = b.nuniq("y") >= 2
    diff = means[maj[two]] - means[mino[two]]
    out[two] = np.sqrt((diff * diff).sum(axis=1))
    return out


@measure("nr_norm", "statistical")
def _nr_norm(b: ConvBatch) -> float:
    """#columns passing a normality test over the first 5000 rows
    (statistical.py:918-1065; row cap 970-976; default method
    shapiro-wilk as in the reference). All three reference tests —
    Shapiro-Wilk (AS R94), D'Agostino-Pearson K², Anderson-Darling —
    are pure-numpy in plans/normality.py and golden-verified against
    the reference's own per-method iris/mix/kr expectations, including
    its percent-vs-fraction significance-pick quirk for
    anderson-darling. Per-column test failures (n too small, constant
    column) propagate, matching apply_along_axis semantics -> the
    measure becomes NaN via exception containment. method / threshold /
    failure / max_samples route through measure_kwargs like the
    reference's extract(nr_norm={...}). Runs once per conversation."""
    from pymfe_spark.plans.normality import nr_norm as _nn

    kw = b.config.get("measure_kwargs", {}).get("nr_norm", {})
    return _nn(
        b.N.astype(float),
        method=kw.get("method", "shapiro-wilk"),
        threshold=kw.get("threshold", 0.05),
        failure=kw.get("failure", "soft"),
        max_samples=kw.get("max_samples", 5000),
    )


def _inv_sqrt(S: np.ndarray, reg: float) -> np.ndarray:
    w, V = np.linalg.eigh(S)
    w = np.clip(w, reg, None)
    return (V * w[:, None, :] ** -0.5) @ np.swapaxes(V, 1, 2)


def _can_cor_seg(b: ConvBatch, reg: float = 1e-10) -> Ragged:
    """Classical CCA between N and one-hot(y) per segment (k-1
    components dropped by rank): canonical correlations are the
    singular values of Sxx^-1/2 Sxy Syy^-1/2. The three cross-product
    matrices are built per conversation with the one-conversation
    arithmetic (near-perfect fits make the largest canonical
    correlation's eigenvalue rho^2 / (1 - rho^2) amplify any rounding
    change); the eigh / svd work is stacked, one call per class
    count."""

    def make():
        k = b.nuniq("y")
        lens = b.lens()
        d = b.N.shape[1]
        yc = b.local("y")
        vals: list[np.ndarray] = [np.zeros(0)] * b.S
        ok = (k >= 2) & (lens >= 3)
        for kk in np.unique(k[ok]):
            segs = np.flatnonzero(ok & (k == kk))
            mats = []
            for sg in segs:
                a, e = b.bounds[sg], b.bounds[sg + 1]
                N = b.N[a:e]
                Y = (yc[a:e, None] == np.arange(kk)[None, :]).astype(float)
                Xc = N - N.mean(axis=0)
                Yc = Y - Y.mean(axis=0)
                n = N.shape[0]
                mats.append((Xc.T @ Xc / (n - 1), Yc.T @ Yc / (n - 1), Xc.T @ Yc / (n - 1)))
            Sxx, Syy, Sxy = (np.stack(m) for m in zip(*mats))
            M = _inv_sqrt(Sxx + reg * np.eye(d), reg) @ Sxy @ _inv_sqrt(Syy + reg * np.eye(kk), reg)
            s = np.linalg.svd(M, compute_uv=False)[:, : min(kk, d)]
            for i, sg in enumerate(segs):
                r = s[i]
                # trim rank-deficient components (one-hot Y has rank
                # k-1): the reference's CCA while-loop stops at the
                # first zero-variance transformed column
                # (statistical.py:246-257); the eigen route surfaces
                # those as ~reg-level singular values
                vals[sg] = np.clip(r[r > 1.0e-8], 0.0, 1.0)
        return Ragged.of(vals)

    return b._cached("can_cor", make)


def _can_cors(N: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Canonical correlations of one conversation."""
    y = np.asarray(y, dtype=object)
    return _can_cor_seg(ConvBatch(N=N, C=y[:, None], y=y)).row(0)


def _can_cor_reduce(b: ConvBatch, fn) -> np.ndarray:
    """fn(values, segment of each value) over the canonical
    correlations; NaN for a segment with none."""
    r = _can_cor_seg(b)
    seg = np.repeat(np.arange(b.S), np.diff(r.offsets))
    out = np.full(b.S, np.nan)
    has = np.diff(r.offsets) > 0
    out[has] = fn(r.flat, seg, b.S)[has]
    return out


def _eig(rho: np.ndarray) -> np.ndarray:
    """lambda = rho^2 / (1 - rho^2) (statistical.py:192-209)."""
    rho2 = np.clip(rho**2, 0.0, 1.0 - 1e-12)
    return rho2 / (1.0 - rho2)


def _segsum(v, seg, S):
    return np.bincount(seg, weights=v, minlength=S)


batched("can_cor", "statistical", needs_y=True)(_can_cor_seg)  # 265-302
batched("nr_disc", "statistical", needs_y=True)(
    lambda b: np.diff(_can_cor_seg(b).offsets).astype(float)
)  # 501-544


@batched("w_lambda", "statistical", needs_y=True)
def _w_lambda(b: ConvBatch) -> np.ndarray:
    """Wilks' Lambda via exp(-sum(log1p(eig))) — the reference's
    numerically-stable rewrite (statistical.py:1537-1538)."""
    return _can_cor_reduce(b, lambda r, s, S: np.exp(-_segsum(np.log1p(_eig(r)), s, S)))


batched("p_trace", "statistical", needs_y=True)(
    lambda b: _can_cor_reduce(b, lambda r, s, S: _segsum(r**2, s, S))
)  # 1541-1582
batched("lh_trace", "statistical", needs_y=True)(
    lambda b: _can_cor_reduce(b, lambda r, s, S: _segsum(_eig(r), s, S))
)  # 1585-1658


@batched("roy_root", "statistical", needs_y=True)
def _roy_root(b: ConvBatch) -> np.ndarray:  # 1661-1774
    def seg_max(r, s, S):
        out = np.full(S, -np.inf)
        np.maximum.at(out, s, _eig(r))
        return out

    return _can_cor_reduce(b, seg_max)


@batched("sd_ratio", "statistical", needs_y=True)
def _sd_ratio(b: ConvBatch) -> np.ndarray:
    """Box's M homogeneity-of-covariances statistic
    (statistical.py:1162-1307): exp(M / (p * (n - k))). Stacked det,
    one call per class count."""
    _, _, seg_of, _, cnt, soff = b.by_class()
    P = _class_stats(b)[2]
    k = b.nuniq("y")
    p = b.N.shape[1]
    small = np.bincount(seg_of, weights=cnt < 2, minlength=b.S) > 0
    out = np.full(b.S, np.nan)
    for kk in np.unique(k[(k >= 2) & ~small]):
        segs = np.flatnonzero((k == kk) & ~small)
        n = b.lens()[segs].astype(float)
        sub = soff[:-1][segs][:, None] + np.arange(kk)
        w = cnt[sub] - 1.0  # (m, kk)
        covs = P[sub] * (1.0 / w)[:, :, None, None]
        # replicated verbatim from the reference (statistical.py:
        # 1222-1230): np.flip(axis=(0, 1)) of each conversation's stack
        # reverses the class order AND each matrix's ROWS (not
        # columns), so every det picks up a (-1)^floor(p/2) factor and
        # the weights pair with the reversed class stack. For p % 4 in
        # {2, 3} the dets go negative -> log -> NaN — the reference's
        # own mixed/categorical goldens pin that NaN, so the quirk is
        # part of the contract.
        covs = np.flip(covs, axis=(1, 2))
        nk = (n - kk)[:, None, None]
        pooled = (w[:, :, None, None] * covs).sum(axis=1) / nk
        gamma = 1.0 - (
            (2.0 * p**2 + 3.0 * p - 1.0) / (6.0 * (p + 1.0) * (kk - 1.0))
        ) * ((1.0 / w).sum(axis=1) - 1.0 / (n - kk))
        logdets = np.log(np.linalg.det(covs))
        logdet_p = np.log(np.linalg.det(pooled))
        m_factor = gamma * ((n - kk) * logdet_p - (w * logdets).sum(axis=1))
        out[segs] = np.where(
            np.isfinite(m_factor), np.exp(m_factor / (p * (n - kk))), np.nan
        )
    return out


# ---- info-theory (/root/reference/pymfe/info_theory.py) --------------

batched("class_ent", "info-theory", needs_y=True)(
    lambda b: b.entropy("y")
)  # 344-389


def _cat_cols(b: ConvBatch) -> range:
    return range(b.C.shape[1])


@batched("attr_ent", "info-theory")
def _attr_ent(b: ConvBatch) -> Ragged:
    """Shannon entropy per categorical column (info_theory.py:277-313)."""
    return Ragged.fixed(_attr_ent_mat(b))


def _attr_ent_mat(b: ConvBatch) -> np.ndarray:
    return np.column_stack([b.entropy(j) for j in _cat_cols(b)]).reshape(b.S, -1)


def _joint_ent_seg(b: ConvBatch, a, c) -> np.ndarray:
    """eps-smoothed joint entropy over each segment's DENSE crosstab
    (info_theory.py:183-195,457-508): scipy.stats.entropy(p + eps,
    base=2) — normalizes internally."""

    def make():
        tab, off, cseg = b.crosstab(a, c)[:3]
        e = NP(off)
        p = tab / b.lens()[cseg] + EPS
        p = p / e.sum(p)[cseg]
        return -e.sum(p * np.log2(p))

    return b._cached(("joint_ent", a, c), make)


def _conc_seg(b: ConvBatch, a, c, eps: float = 1.0e-8) -> np.ndarray:
    """Goodman-Kruskal tau of a -> c per segment (rows = a, cols = c),
    reference-exact (info_theory.py:198-213): eps added to every cell,
    numerator divides by the c-marginals and subtracts the squared
    a-marginals."""
    tab, off, cseg, ckey, rstart, roff, ncol = b.crosstab(a, c)
    pij = tab / b.lens()[cseg] + eps
    isum = np.bincount(ckey, weights=pij, minlength=ncol)
    nb = b.nuniq(c)[np.repeat(np.arange(b.S), b.nuniq(a))]
    jsum2 = NP(roff).sum(range_sum(pij, rstart, nb) ** 2)
    denom = 1.0 - jsum2
    num = NP(off).sum(pij**2 / isum[ckey]) - jsum2
    return np.where(denom == 0, np.nan, num / np.where(denom == 0, 1.0, denom))


def _joint_mat(b: ConvBatch) -> np.ndarray:
    return np.column_stack([_joint_ent_seg(b, j, "y") for j in _cat_cols(b)]).reshape(b.S, -1)


@batched("joint_ent", "info-theory", needs_y=True)
def _joint_ent_m(b: ConvBatch) -> Ragged:
    """Joint entropy of each column with y (info_theory.py:457-508)."""
    return Ragged.fixed(_joint_mat(b))


def _mut_inf_mat(b: ConvBatch) -> np.ndarray:
    """H(x) + H(y) - H(x,y) per column, in that float order."""
    return b._cached(
        "mut_inf", lambda: (_attr_ent_mat(b) + b.entropy("y")[:, None]) - _joint_mat(b)
    )


@batched("mut_inf", "info-theory", needs_y=True)
def _mut_inf(b: ConvBatch) -> Ragged:
    """H(x) + H(y) - H(x,y) (info_theory.py:511-588)."""
    return Ragged.fixed(_mut_inf_mat(b))


@batched("attr_conc", "info-theory")
def _attr_conc(b: ConvBatch) -> Ragged:
    """Goodman-Kruskal tau for every ORDERED column pair, max 12 columns
    sampled (info_theory.py:198-274; cap at 219-263). The sample
    replays the reference's seeded np.random.choice stream
    (random_state from the batch config). Emission order is the
    reference's nested-loop order."""
    d = b.C.shape[1]
    cols = np.arange(d)
    if d > 12:
        rng = np.random.RandomState(b.config.get("seed", 1234))
        cols = np.sort(rng.choice(d, 12, replace=False))
    out = [_conc_seg(b, int(i), int(j)) for i in cols for j in cols if i != j]
    if not out:
        return Ragged.fixed(np.full((b.S, 1), np.nan))
    return Ragged.fixed(np.column_stack(out))


@batched("class_conc", "info-theory", needs_y=True)
def _class_conc(b: ConvBatch) -> Ragged:
    """tau(col -> y) per column (info_theory.py:316-341)."""
    return Ragged.fixed(
        np.column_stack([_conc_seg(b, j, "y") for j in _cat_cols(b)]).reshape(b.S, -1)
    )


@batched("eq_num_attr", "info-theory", needs_y=True)
def _eq_num_attr(b: ConvBatch) -> np.ndarray:
    """d * H(y) / sum(MI) (info_theory.py:392-454)."""
    s = _mut_inf_mat(b).sum(axis=1)
    return np.where(s != 0, b.C.shape[1] * b.entropy("y") / np.where(s != 0, s, 1.0), np.nan)


@batched("ns_ratio", "info-theory", needs_y=True)
def _ns_ratio(b: ConvBatch) -> np.ndarray:
    """(sum H(x) - sum MI) / sum MI (info_theory.py:591-650)."""
    mi = _mut_inf_mat(b).sum(axis=1)
    hx = _attr_ent_mat(b).sum(axis=1)
    return np.where(mi != 0, (hx - mi) / np.where(mi != 0, mi, 1.0), np.nan)


# ---- clustering (/root/reference/pymfe/clustering.py) ----------------


def _intercls_blocks(b: ConvBatch) -> list[np.ndarray]:
    """Per class pair: cdist block normalized by its size
    (clustering.py:356-400)."""
    D = b.dist_mat()
    inds = b.cls_inds()
    blocks = []
    for i in range(inds.shape[0]):
        for j in range(i + 1, inds.shape[0]):
            blk = D[np.ix_(inds[i], inds[j])]
            blocks.append(blk / blk.size)
    return blocks


@measure("vdu", "clustering", needs_y=True)
def _vdu(b: ConvBatch) -> float:
    """Dunn index: min normalized inter-class dist / max intra-class
    diameter (clustering.py:542-624)."""
    blocks = _intercls_blocks(b)
    if not blocks:
        return float("nan")
    min_inter = min(float(blk.min()) for blk in blocks)
    D = b.dist_mat()
    inds = b.cls_inds()
    intr = [
        float(D[np.ix_(m, m)].max()) for m in inds if m.sum() > 1
    ]
    mx = max(intr) if intr else 0.0
    return float(min_inter / mx) if mx else float("nan")


@measure("int", "clustering", needs_y=True)
def _int_index(b: ConvBatch) -> float:
    """INT index (clustering.py:651-734): sum of normalized inter-class
    dists * 2/(q(q-1))."""
    classes, _ = b.classes()
    q = classes.size
    if q < 2:
        return float("nan")
    total = sum(float(blk.sum()) for blk in _intercls_blocks(b))
    return total * 2.0 / (q * (q - 1.0))


@measure("vdb", "clustering", needs_y=True)
def _vdb(b: ConvBatch) -> float:
    """Davies-Bouldin (sklearn.metrics.davies_bouldin_score semantics,
    clustering.py:627-648): s_i = mean dist to centroid."""
    classes, _ = b.classes()
    if classes.size < 2:
        return float("nan")
    cents, s = [], []
    for c in classes:
        pts = b.N[b.y == c]
        cen = pts.mean(axis=0)
        cents.append(cen)
        s.append(float(np.linalg.norm(pts - cen, axis=1).mean()))
    cents = np.array(cents)
    M = _cdist(cents, cents)
    k = classes.size
    R = np.zeros(k)
    for i in range(k):
        vals = [
            (s[i] + s[j]) / M[i, j] if M[i, j] > 0 else 0.0
            for j in range(k)
            if j != i
        ]
        R[i] = max(vals)
    return float(R.mean())


@measure("ch", "clustering", needs_y=True)
def _ch(b: ConvBatch) -> float:
    """Calinski-Harabasz (clustering.py:851-875)."""
    classes, cnt = b.classes()
    k, n = classes.size, b.N.shape[0]
    if k < 2 or n <= k:
        return float("nan")
    mu = b.N.mean(axis=0)
    ssb = ssw = 0.0
    for c, ni in zip(classes, cnt):
        pts = b.N[b.y == c]
        ci = pts.mean(axis=0)
        ssb += ni * float(((ci - mu) ** 2).sum())
        ssw += float(((pts - ci) ** 2).sum())
    return float((ssb / (k - 1)) / (ssw / (n - k))) if ssw else float("nan")


@measure("sil", "clustering", needs_y=True)
def _sil(b: ConvBatch) -> float:
    """Mean silhouette (sklearn semantics, clustering.py:737-797):
    singleton clusters score 0."""
    D = b.dist_mat()
    classes, cnt = b.classes()
    if classes.size < 2:
        return float("nan")
    inds = b.cls_inds()
    n = b.N.shape[0]
    s = np.zeros(n)
    for idx in range(n):
        own = b.y[idx]
        own_mask = inds[list(classes).index(own)]
        n_own = own_mask.sum()
        if n_own <= 1:
            s[idx] = 0.0
            continue
        a = D[idx, own_mask].sum() / (n_own - 1)
        bvals = [
            D[idx, m].mean() for m, c in zip(inds, classes) if c != own
        ]
        bmin = min(bvals)
        s[idx] = (bmin - a) / max(a, bmin) if max(a, bmin) > 0 else 0.0
    return float(s.mean())


@measure("pb", "clustering", needs_y=True)
def _pb(b: ConvBatch) -> float:
    """Point-biserial corr between pairwise distances and same-class
    indicator (clustering.py:800-848) — Pearson corr with the binary
    x = classes match."""
    D = b.dist_mat()
    iu = np.triu_indices_from(D, k=1)
    dists = D[iu]
    same = (b.y[iu[0]] == b.y[iu[1]]).astype(float)
    if same.std() == 0 or dists.std() == 0:
        return float("nan")
    return float(np.corrcoef(same, dists)[0, 1])


@measure("nre", "clustering", needs_y=True)
def _nre(b: ConvBatch) -> float:
    """Entropy (natural log) of class proportions (clustering.py:878-912)."""
    _, cnt = b.classes()
    return _entropy(cnt)


@measure("sc", "clustering", needs_y=True)
def _sc(b: ConvBatch) -> float:
    """#classes with < 15 instances (clustering.py:915-962)."""
    _, cnt = b.classes()
    return float((cnt < 15).sum())


# ---- concept (/root/reference/pymfe/concept.py) ----------------------


def _concept_weights(b: ConvBatch, alpha: float) -> np.ndarray:
    """weights 2^(-alpha * d / (sqrt(d_cols) - d)) with the reference's
    concept_minimum guard (concept.py:100-172)."""
    D = b.concept_dist_mat()
    div = np.sqrt(b.N.shape[1]) - D
    div[div <= 0] = 10e-10
    w = np.power(2.0, -alpha * (D / div))
    np.fill_diagonal(w, 0.0)
    return w


def _radius_weights(b: ConvBatch, alpha: float) -> np.ndarray:
    """Integer-radius weights 2^(-alpha*ceil(d)), radius 0 -> 1
    (concept.py:240-303)."""
    radius = np.ceil(b.concept_dist_mat()).astype(int)
    radius[radius == 0] = 1
    w = np.power(2.0, -alpha * radius)
    np.fill_diagonal(w, 0.0)
    return w


@measure("conceptvar", "concept", needs_y=True)
def _conceptvar(b: ConvBatch) -> np.ndarray:
    """Per-example weighted class disagreement (concept.py:100-172)."""
    w = _concept_weights(b, alpha=2.0)
    diff = (b.y[:, None] != b.y[None, :]).astype(float)
    with np.errstate(invalid="ignore"):
        return (w * diff).sum(axis=0) / w.sum(axis=0)


@measure("wg_dist", "concept")
def _wg_dist(b: ConvBatch) -> np.ndarray:
    """Per-example weighted mean distance (concept.py:175-237)."""
    w = _concept_weights(b, alpha=2.0)
    D = b.concept_dist_mat()
    with np.errstate(invalid="ignore"):
        return (w * D).sum(axis=0) / w.sum(axis=0)


@measure("impconceptvar", "concept", needs_y=True)
def _impconceptvar(b: ConvBatch) -> np.ndarray:
    """Improved concept variation (concept.py:240-303)."""
    w = _radius_weights(b, alpha=1.0)
    diff = (b.y[:, None] != b.y[None, :]).astype(float)
    return (w * diff).sum(axis=0)


@measure("cohesiveness", "concept")
def _cohesiveness(b: ConvBatch) -> np.ndarray:
    """Sum of radius weights per example (concept.py:306-359)."""
    return _radius_weights(b, alpha=1.0).sum(axis=0)


# ---- itemset (/root/reference/pymfe/itemset.py) ----------------------


def _binarize(C: np.ndarray) -> list[np.ndarray]:
    """One boolean column per (column, value) pair (itemset.py:84-96)."""
    cols = []
    for j in range(C.shape[1]):
        for v in np.unique(C[:, j]):
            cols.append(C[:, j] == v)
    return cols


@measure("one_itemset", "itemset")
def _one_itemset(b: ConvBatch) -> np.ndarray:
    """Per attribute-value support (itemset.py:151-190)."""
    n = b.C.shape[0]
    return np.array([m.sum() / n for m in _binarize(b.C)])


@measure("two_itemset", "itemset")
def _two_itemset(b: ConvBatch) -> np.ndarray:
    """XOR support for value pairs across DIFFERENT original columns
    (itemset.py:99-148)."""
    n = b.C.shape[0]
    per_col = []
    for j in range(b.C.shape[1]):
        per_col.append([b.C[:, j] == v for v in np.unique(b.C[:, j])])
    out = []
    for j1 in range(len(per_col)):
        for j2 in range(j1 + 1, len(per_col)):
            for m1 in per_col[j1]:
                for m2 in per_col[j2]:
                    out.append(float(np.logical_xor(m1, m2).sum()) / n)
    return np.array(out) if out else np.array([np.nan])


DEFAULT_GROUPS = ("general", "statistical", "info-theory")


def all_groups() -> tuple[str, ...]:
    """All registered groups (measures_ml registers more on import)."""
    import pymfe_spark.plans.measures_ml  # noqa: F401  (idempotent)

    return tuple(GROUPS)


# backwards-compat constant: groups registered in THIS module
ALL_GROUPS = tuple(GROUPS)
